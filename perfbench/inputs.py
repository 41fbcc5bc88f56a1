"""Seeded inputs for the benchmark workloads and probes.

Everything here is a pure function of the seed (numpy ``default_rng``),
written as parquet with pyarrow so generation needs no Spark session.
Inputs are cached per seed under the cache directory the caller passes
(``.bench_cache/`` at the checkout root); the engine only ever sees the
generated files.

- batch corpus: ``pmocr_spark.corpus.generate`` docs, all distinct (no
  ``replicate``), plus the pure-python oracle's verdict per doc.
- service drops (the traced run's streaming probe): one static blob
  table and pre-built drop files, each holding new docs plus
  already-finished docs re-dropped from earlier drops.
- catalog: the ten star-schema tables the query families read, shaped
  like the sf0.001 test tables (same schemas, key ranges and value
  distributions), plus planted near-duplicate documents.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator changes, so stale caches are never reused
VERSION = 1

#: docs whose txt/csv/pdf is compared in full against the oracle every
#: run (statuses are compared for every doc)
SAMPLE_DOCS = 60


def _publish(tmp: str, final: str) -> None:
    """Make a fully written directory visible under its final name."""
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def _cached(cache: str, key: str, build) -> str:
    """Return ``cache/key``, building it with ``build(dir)`` on a miss.

    The directory is built under a temporary name and renamed into place,
    so an interrupted run never leaves a half-written input behind.
    """
    final = os.path.join(cache, f"v{VERSION}-{key}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    _publish(tmp, final)
    return final


# ------------------------------------------------------------------ batch


def _oracle_summary(documents: pa.Table, media_blobs: pa.Table, seed: int) -> dict:
    """Oracle verdict for every doc plus full outputs for a seeded sample."""
    from pmocr_spark import corpus

    ref = corpus.reference_convert(documents, media_blobs)
    ids = sorted(ref)
    rng = np.random.default_rng(seed + 7)
    sample = sorted(rng.choice(ids, size=min(SAMPLE_DOCS, len(ids)), replace=False).tolist())
    return {
        "status": {d: ref[d]["status"] for d in ids},
        "sample": {d: {"txt": ref[d]["txt"], "csv": ref[d]["csv"]} for d in sample},
    }


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def batch_corpus(cache: str, n_docs: int, seed: int) -> str:
    """Distinct-doc corpus dir: documents.parquet, media_blobs.parquet,
    oracle.json (per-doc status + sampled txt/csv) and stats.json."""

    def build(d: str) -> None:
        from pmocr_spark import corpus

        documents, media_blobs = corpus.generate(n_docs=n_docs, seed=seed)
        corpus._write_tables(d, documents, media_blobs)
        _write_json(os.path.join(d, "oracle.json"), _oracle_summary(documents, media_blobs, seed))
        _write_json(os.path.join(d, "stats.json"), _blob_stats(media_blobs))

    return _cached(cache, f"batch-{n_docs}-{seed}", build)


def _blob_stats(media_blobs: pa.Table) -> dict:
    """Blob count and the share of blob bytes whose content repeats."""
    import hashlib

    seen: set[bytes] = set()
    total = dup = 0
    for b in media_blobs.column("content").to_pylist():
        n = len(b)
        h = hashlib.blake2b(b, digest_size=16).digest()
        total += n
        if h in seen:
            dup += n
        seen.add(h)
    return {
        "blobs": media_blobs.num_rows,
        "blob_mb": round(total / 1e6, 3),
        "dup_content_share": round(dup / total, 6) if total else 0.0,
    }


# ---------------------------------------------------------------- service


def service_drops(cache: str, n_drops: int, new_per_drop: int, seed: int) -> str:
    """Service inputs: blobs.parquet (static), drops/drop-NNNN.parquet,
    and oracle.json.

    Drop 0 is the warm-up drop (new docs only). Every later drop holds
    ``new_per_drop`` new docs plus up to as many docs re-dropped from
    earlier drops; only docs the oracle finishes as ``done`` are
    re-dropped, so the engine must exclude every one of them.
    """

    def build(d: str) -> None:
        from pmocr_spark import corpus

        n_docs = n_drops * new_per_drop
        documents, media_blobs = corpus.generate(n_docs=n_docs, seed=seed)
        pq.write_table(media_blobs, os.path.join(d, "blobs.parquet"))
        summary = _oracle_summary(documents, media_blobs, seed)
        status = summary["status"]
        rng = np.random.default_rng(seed + 11)
        os.makedirs(os.path.join(d, "drops"))
        ids = documents.column("doc_id").to_pylist()
        drops = []
        for i in range(n_drops):
            new = list(range(i * new_per_drop, (i + 1) * new_per_drop))
            done_before = [j for j in range(i * new_per_drop) if status[ids[j]] == "done"]
            k = min(new_per_drop, len(done_before))
            again = sorted(rng.choice(done_before, size=k, replace=False).tolist()) if k else []
            table = documents.take(pa.array(new + again, type=pa.int64()))
            pq.write_table(table, os.path.join(d, "drops", f"drop-{i:04d}.parquet"))
            drops.append({"new": [ids[j] for j in new], "again": [ids[j] for j in again]})
        summary["drops"] = drops
        _write_json(os.path.join(d, "oracle.json"), summary)
        _write_json(os.path.join(d, "stats.json"), _blob_stats(media_blobs))

    return _cached(cache, f"service-{n_drops}-{new_per_drop}-{seed}", build)


# ---------------------------------------------------------------- catalog

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "large", "small", "red", "green", "hot", "dark"]
_PART_NOUN = ["anvil", "bolt", "widget", "gear", "spring", "valve", "nut", "pipe"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """n distinct 2-decimal amounts in [lo, hi) (distinct like the test
    tables, so top-k orderings have no ties)."""
    cents = rng.choice(int(hi * 100) - int(lo * 100), size=n, replace=False)
    return (cents + int(lo * 100)) / 100.0


def _days(rng, start: datetime, span: int, n: int) -> list[datetime]:
    return [start + timedelta(days=int(x)) for x in rng.integers(0, span, size=n)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.15:
            # planted near-duplicate: an earlier doc with a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 12)):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), size=int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    vecs = centers[label] + 0.6 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def catalog_tables(rng, frac: float = 1.0) -> dict[str, pa.Table]:
    """The ten catalog tables; ``frac=1`` matches the sf0.001 row counts."""
    n_cust, n_supp, n_part = int(150 * frac), max(5, int(10 * frac)), int(200 * frac)
    n_ord, n_li, n_ev = int(1500 * frac), int(6000 * frac), int(1000 * frac)
    n_docs = int(500 * frac)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), i32),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, size=n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), i32),
            "s_acctbal": _money(rng, 0, 10000, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, size=n_part), rng.integers(0, 8, size=n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)],
            "p_type": [_PTYPES[k] for k in rng.integers(0, 6, size=n_part)],
            "p_size": pa.array(rng.integers(1, 51, size=n_part), i32),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), i64),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, size=n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(_days(rng, datetime(1995, 1, 1), 2404, n_ord), pa.timestamp("us")),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, size=n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), i32),
            "l_quantity": rng.integers(1, 51, size=n_li).astype(float),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, size=n_li)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, size=n_li)],
            "l_shipdate": pa.array(_days(rng, datetime(1995, 1, 2), 2498, n_li), pa.timestamp("us")),
        }
    )
    start = datetime(2024, 1, 1)
    offsets = np.sort(rng.choice(30 * 86400 * 10**6, size=n_ev, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(
                [start + timedelta(microseconds=int(x)) for x in offsets], pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, 15, size=n_ev), i64),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, size=n_ev)],
            "value": _money(rng, 0, 330, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_docs)
    return t


def catalog(cache: str, seed: int, frac: float = 1.0) -> str:
    """Catalog dir holding ``<table>.parquet`` for every catalog table."""

    def build(d: str) -> None:
        rng = np.random.default_rng(seed)
        for name, table in catalog_tables(rng, frac).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))

    return _cached(cache, f"catalog-{frac}-{seed}", build)
