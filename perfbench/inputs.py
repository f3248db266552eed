"""Seeded input generators, cached by (size, seed) under the work dir.

Each input is built once, outside any timed region, and written atomically
(generated into a temporary directory, then renamed), so a killed run never
leaves a half-written input behind. The program only ever sees the files.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
from pathlib import Path

import numpy as np
import pandas as pd

from harness import ROOT, WORK

# Throughput class mix of tools/scaling_bench.py: hot_cluster at 1%, so one
# near-identical mega-cluster does not dominate the pass.
CRAWL_FRACTIONS = [
    ("unique", 0.59),
    ("exact_dup", 0.10),
    ("near_dup", 0.15),
    ("containment", 0.05),
    ("template_clone", 0.05),
    ("degenerate", 0.05),
    ("hot_cluster", 0.01),
]

# The 30-word vocabulary and shape of the testdata `documents` table.
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
DOC_SOURCES = 20

CURATION_QUERIES = (
    "dedup_keep_list",
    "dedup_funnel",
    "soft_dedup_weights",
    "token_yield_funnel",
    "cluster_best_rep",
    "source_dedup_savings",
)


def _cached(kind: str, size: int, seed: int, build) -> Path:
    """Directory for (kind, size, seed), built by `build(tmp_dir)` if absent."""
    final = WORK / "inputs" / f"{kind}-{size}-{seed}"
    if (final / "_DONE").exists():
        return final
    final.parent.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f".{kind}-", dir=final.parent))
    try:
        build(tmp)
        (tmp / "_DONE").touch()
        if final.exists():
            shutil.rmtree(final)
        os.replace(tmp, final)
    finally:
        if tmp.exists():
            shutil.rmtree(tmp)
    return final


# --- web-crawl -------------------------------------------------------------

def crawl_pages(n_pages: int, seed: int) -> Path:
    """fixtures.synth pages + truth sidecar: pages.parquet, pages_truth.parquet."""

    def build(out: Path) -> None:
        from intraarchivededuplicator_spark.fixtures.synth import gen_pages, write_parquet

        corpus = gen_pages(
            n_rows=n_pages,
            seed=seed,
            min_tokens=100,
            max_tokens=800,
            class_fractions=CRAWL_FRACTIONS,
        )
        write_parquet(corpus, str(out))

    return _cached("pages", n_pages, seed, build)


# --- probe-serve -------------------------------------------------------------

def random_sigs(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64, endpoint=True)


def flip_bits(rng: np.random.Generator, sigs: np.ndarray, max_dist: int) -> np.ndarray:
    """Each signature with 1..max_dist distinct random bits flipped."""
    out = sigs.astype(np.uint64).copy()
    dists = rng.integers(1, max_dist + 1, size=len(sigs))
    for i, d in enumerate(dists):
        bits = rng.choice(64, size=int(d), replace=False)
        mask = np.uint64(0)
        for b in bits:
            mask |= np.uint64(1) << np.uint64(int(b))
        out[i] ^= mask
    return out.astype(np.int64)


def probe_index(n_index: int, seed: int, radius: int) -> Path:
    """index.parquet (id, sig): n_index signed-int64 SimHashes for a resident
    index. 5% of the rows sit within `radius` of another row, so a hit can
    match several ids. The probes and the downloads inserted later are drawn
    from the run's own seeded generator, against the index as it stands."""

    def build(out: Path) -> None:
        rng = np.random.default_rng(seed)
        n_planted = n_index // 20
        base = random_sigs(rng, n_index - n_planted)
        planted = flip_bits(rng, base[rng.integers(0, len(base), n_planted)], radius)
        sigs = np.concatenate([base, planted])
        rng.shuffle(sigs)
        pd.DataFrame({"id": np.arange(n_index, dtype=np.int64), "sig": sigs}).to_parquet(
            out / "index.parquet", index=False, row_group_size=50_000)

    return _cached(f"sigs-r{radius}", n_index, seed, build)


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def hamming_to_all(sig: int, sigs: np.ndarray) -> np.ndarray:
    """Bit distance from `sig` to every entry of `sigs` (numpy brute force)."""
    x = np.bitwise_xor(sigs, np.int64(sig)).view(np.uint8).reshape(-1, 8)
    return _POP8[x].sum(axis=1, dtype=np.int64)


# --- curation-queries ----------------------------------------------------------

def documents(n_docs: int, seed: int) -> Path:
    """documents.parquet in the testdata schema (doc_id, text, lang, source,
    n_chars), with planted exact and near duplicates, plus each curation
    query's DuckDB oracle answer (oracle/<query>.json, normalized rows)."""

    def build(out: Path) -> None:
        rng = np.random.default_rng(seed)
        vocab = np.array(DOC_VOCAB)
        texts: list[str] = []
        for i in range(n_docs):
            r = rng.random()
            if i > 0 and r < 0.02:  # byte-exact copy of an earlier doc
                texts.append(texts[int(rng.integers(0, i))])
            elif i > 0 and r < 0.07:  # near copy: one token becomes "dup"
                toks = texts[int(rng.integers(0, i))].split()
                toks[int(rng.integers(0, len(toks)))] = "dup"
                texts.append(" ".join(toks))
            else:
                n_tok = int(rng.integers(8, 91))
                texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_tok)]))
        langs, p = DOC_LANGS
        df = pd.DataFrame({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(langs, size=n_docs, p=p),
            "source": [f"src{s}" for s in rng.integers(0, DOC_SOURCES, n_docs)],
        })
        df["n_chars"] = df["text"].str.len().astype(np.int64)
        df.to_parquet(out / "documents.parquet", index=False)
        _write_oracles(out)

    return _cached("docs", n_docs, seed, build)


def _write_oracles(sf_dir: Path) -> None:
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    (sf_dir / "oracle").mkdir()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        for name in CURATION_QUERIES:
            cols, kinds, rows = normalize(con.sql(sqls[name]).df())
            with open(sf_dir / "oracle" / f"{name}.json", "w") as f:
                json.dump({"cols": cols, "kinds": kinds, "rows": rows}, f)
    finally:
        con.close()


@functools.lru_cache(maxsize=1)
def _check_oracles_module():
    """tools/check_oracles.py: the transport-strict normalizer the oracle gate
    uses (sorted columns, stringified cells, sorted rows)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracles", ROOT / "tools" / "check_oracles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def normalize(pdf: pd.DataFrame) -> tuple[list[str], dict, list[list[str]]]:
    cols, kinds, rows = _check_oracles_module().normalize_df(pdf)
    return cols, kinds, [list(r) for r in rows]


def oracle_answer(sf_dir: Path, name: str) -> dict:
    with open(sf_dir / "oracle" / f"{name}.json") as f:
        return json.load(f)
