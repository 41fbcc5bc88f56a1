"""Output checks against the repository's own oracles.

Each check returns ``(attempted, failed, notes)``: the operations it
looked at, how many of them raised or differ from the oracle, and a few
human-readable mismatch notes. A6 poison docs that the oracle marks
``failed`` are correct when the engine marks them ``failed`` too.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _read_dir(path: str, columns: list[str]) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pa.table({c: pa.array([], pa.string()) for c in columns})
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def batch_output(out_dir: str, oracle: dict) -> tuple[int, int, list[str]]:
    """One batch pass: every doc once with the oracle's status, and the
    sampled docs' txt/csv equal to the oracle and their pdf decoding back
    to the txt."""
    from pmocr_spark import codecs

    expect = oracle["status"]
    t = _read_dir(out_dir, ["doc_id", "status", "txt", "csv", "pdf"])
    notes: list[str] = []
    bad: set[str] = set()
    seen: dict[str, int] = {}
    for d in t.column("doc_id").to_pylist():
        seen[d] = seen.get(d, 0) + 1
    for d in expect:
        if seen.get(d, 0) != 1:
            bad.add(d)
    for d in seen:
        if d not in expect:
            bad.add(d)
    rows = {r["doc_id"]: r for r in t.select(["doc_id", "status"]).to_pylist()}
    for d, want in expect.items():
        if d in rows and rows[d]["status"] != want:
            bad.add(d)
    sample = oracle["sample"]
    picked = t.filter(pc.is_in(t.column("doc_id"), pa.array(list(sample))))
    for r in picked.to_pylist():
        ref = sample[r["doc_id"]]
        ok = r["txt"] == ref["txt"] and r["csv"] == ref["csv"]
        try:
            ok = ok and codecs.decode_blob(r["pdf"]) == ref["txt"]
        except Exception as e:  # noqa: BLE001 — a pdf that fails to decode is a mismatch
            notes.append(f"{r['doc_id']}: pdf does not decode ({type(e).__name__})")
            ok = False
        if not ok:
            bad.add(r["doc_id"])
    if bad:
        notes.append(f"{len(bad)} docs differ from the oracle, e.g. {sorted(bad)[:3]}")
    return len(expect), len(bad), notes


def service_output(out_dir: str, lineage_dir: str, oracle: dict) -> tuple[int, int, list[str]]:
    """Service run over every drop of ``oracle``: every new doc lands
    exactly once in the epoch outputs and exactly once in lineage, with
    the oracle's status; re-dropped finished docs are never converted
    again; sampled docs' txt/csv equal the oracle."""
    drops = oracle["drops"]
    new = [d for dr in drops for d in dr["new"]]
    again = [d for dr in drops for d in dr["again"]]
    out = pa.concat_tables(
        [_read_dir(p, ["doc_id", "status", "txt", "csv"]) for p in sorted(glob.glob(f"{out_dir}/epoch-*"))]
        or [_read_dir(out_dir, ["doc_id", "status", "txt", "csv"])]
    )
    lin = pa.concat_tables(
        [_read_dir(p, ["doc_id", "status"]) for p in sorted(glob.glob(f"{lineage_dir}/epoch-*"))]
        or [_read_dir(lineage_dir, ["doc_id", "status"])]
    )
    count_out: dict[str, int] = {}
    for d in out.column("doc_id").to_pylist():
        count_out[d] = count_out.get(d, 0) + 1
    count_lin: dict[str, int] = {}
    for d in lin.column("doc_id").to_pylist():
        count_lin[d] = count_lin.get(d, 0) + 1
    status = {r["doc_id"]: r["status"] for r in out.select(["doc_id", "status"]).to_pylist()}
    bad: set[str] = set()
    for d in new:
        if count_out.get(d) != 1 or count_lin.get(d) != 1 or status.get(d) != oracle["status"][d]:
            bad.add(d)
    stray = set(count_out) - set(new)
    bad |= stray
    sample = oracle["sample"]
    for r in out.to_pylist():
        ref = sample.get(r["doc_id"])
        if ref is not None and (r["txt"] != ref["txt"] or r["csv"] != ref["csv"]):
            bad.add(r["doc_id"])
    notes = []
    if bad:
        notes.append(f"{len(bad)} docs wrong, e.g. {sorted(bad)[:3]}")
    return len(new) + len(again), len(bad), notes


def catalog_parity(spark, cat_dir: str, families: list[str]) -> tuple[int, int, list[str]]:
    """Each family's result against its DuckDB oracle, canonicalised the
    way tests/test_oracle_parity.py does; families without an oracle must
    return rows."""
    import duckdb

    from pmocr_spark import queries
    from tests.test_oracle_parity import _canon

    con = duckdb.connect()
    for t in queries.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{cat_dir}/{t}.parquet')")
    failed, notes = 0, []
    for name in families:
        try:
            got = queries.QUERY_FNS[name](spark, cat_dir).toPandas()
            if name not in queries.ORACLES:
                ok = len(got) > 0
            else:
                want = con.execute(queries.ORACLES[name]).df()
                ok = _canon(got) == _canon(want)
        except Exception as e:  # noqa: BLE001 — a family that raises counts as failed
            notes.append(f"{name}: {type(e).__name__}: {e}"[:200])
            ok = False
        if not ok:
            failed += 1
            notes.append(f"{name}: differs from its oracle")
    con.close()
    return len(families), failed, notes
