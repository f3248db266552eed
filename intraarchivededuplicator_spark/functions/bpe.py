"""Deterministic BPE subword tokenizer (fixed merge table).

Real byte-pair encoding, not a length heuristic (replaces r1's
ceil(len/4) placeholder): a token is split to characters and a fixed,
ordered merge table is applied exactly like BPE inference — for each merge
(a, b) in priority order, all adjacent (a, b) occurrences merge
left-to-right. The merge table is a compile-time constant (trained-offline
analog), so encoding is deterministic across engines.

Execution trick: represent the in-progress symbol sequence as the token's
characters joined by a separator byte; applying merge (a, b) is then the
literal replace  a+SEP+b -> ab , which every engine applies left-to-right
non-overlapping — identical to BPE's leftmost-first merge scan. The whole
encoder is therefore a chain of JVM-side `replace` calls in Spark (no UDF,
stays in whole-stage codegen) and the same chain of `replace` calls in the
DuckDB oracle SQL. n_subwords = separators + 1.

Reference analog: the per-item feature extraction pass in the scanner
(/root/reference/scanner/hashFile.py:135-164) — a pure function of the
bytes, run inside the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

SEP = "\x01"  # never occurs in text (tokenize drops control chars with \s)

# Ordered merge table (priority = position), BPE-style pairs over lowercase
# ASCII. A real deployment would load a trained table; the ALGORITHM is
# identical and the table is part of the deterministic spec.
MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("o", "r"), ("e", "n"), ("a", "t"),
    ("e", "s"), ("o", "u"), ("i", "t"), ("i", "s"), ("t", "o"),
    ("a", "l"), ("a", "r"), ("s", "t"), ("n", "g"), ("in", "g"),
    ("e", "d"), ("a", "s"), ("o", "f"), ("l", "e"), ("c", "o"),
    ("d", "e"), ("r", "o"), ("l", "i"), ("r", "a"), ("u", "n"),
    ("m", "a"), ("s", "e"), ("an", "d"), ("th", "at"), ("w", "h"),
    ("m", "e"), ("b", "e"), ("h", "a"), ("v", "e"), ("l", "o"),
]


# Representation: every symbol is FOLLOWED by SEP ('abc' -> 'a.b.c.' with
# . = SEP). Avoids regex lookahead (DuckDB's RE2 has none); a merge (a, b)
# is still the literal replace a+SEP+b -> ab (the trailing SEP after b is
# untouched), and n_subwords = count(SEP) = len(split) - 1.


def bpe_encode_col(token: Column) -> Column:
    """Column: SEP-terminated BPE symbol string (JVM-side, codegen)."""
    s = F.regexp_replace(token, "(.)", "$1" + SEP)
    for a, b in MERGES:
        s = F.replace(s, F.lit(a + SEP + b), F.lit(a + b))
    return s


def bpe_subword_count_col(token: Column) -> Column:
    """Column: number of BPE subwords of a token ('' -> 0)."""
    return (
        F.size(F.split(bpe_encode_col(token), SEP)) - F.lit(1)
    ).cast("long")


def sql_bpe_encode(tok_expr: str) -> str:
    """The identical encoder as a DuckDB SQL scalar expression."""
    s = f"regexp_replace({tok_expr}, '(.)', '\\1' || chr(1), 'g')"
    for a, b in MERGES:
        s = f"replace({s}, '{a}' || chr(1) || '{b}', '{a}{b}')"
    return s
