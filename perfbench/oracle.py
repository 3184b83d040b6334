"""Correctness gates beside ``tools.longrun_bench.verify_final_state`` (the
final lake against a DuckDB LWW fold of the applied feed), all outside the
timed window: sampled lookups and the downstream table compare as
multisets, query results with their DuckDB SQL as ``tools/check_oracle.py``
does, and ``corrupt_one_row`` gives the gate something to catch.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us", "tool_meta"]


def _shaped(df):
    from pyspark.sql import functions as F

    if "ts_us" not in df.columns:
        df = df.withColumn("ts_us", F.unix_micros(F.col("ts")))
    return df.withColumn("turn_idx", F.col("turn_idx").cast("long")).select(COLS)


def compare_frames(got_df, exp_df) -> dict:
    """Two DataFrames of lake rows compared as multisets, both directions."""
    got, exp = _shaped(got_df), _shaped(exp_df)
    missing, extra = exp.exceptAll(got).count(), got.exceptAll(exp).count()
    return {"missing": missing, "extra": extra, "match": missing == 0 and extra == 0}


def check_query(result_pdf, sql: str | None, corpus_dir: str, tables: list[str]) -> dict:
    """A query's rows against its DuckDB SQL over the same parquet tables;
    a query without SQL only has to return rows."""
    if sql is None:
        return {"rows": len(result_pdf), "match": len(result_pdf) > 0}
    import duckdb

    from tools.check_oracle import compare

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        errors = compare(result_pdf, con.execute(sql).fetchdf())
    finally:
        con.close()
    return {"rows": len(result_pdf), "errors": errors[:3], "match": not errors}


def live_files(lake_root: str) -> list[str]:
    """Data files the lake's newest manifest references."""
    manifests = sorted(glob.glob(os.path.join(lake_root, "_versions", "v*.json")))
    with open(manifests[-1]) as f:
        m = json.load(f)
    rel = [p for coll in (m["buckets"], m.get("deltas") or {})
           for fl in coll.values() for p in fl]
    return [os.path.join(lake_root, p) for p in rel]


def corrupt_one_row(lake_root: str) -> str:
    """Alter the text of one key's winning row in place, so the gate has
    something to catch (the negative check). Returns the altered file."""
    import pyarrow as pa

    best: dict[tuple, tuple] = {}
    for path in live_files(lake_root):
        tbl = pq.read_table(path, columns=["conv_id", "turn_idx", "_lsn", "_seq",
                                            "_deleted", "text"])
        for i, (c, t, lsn, seq, dead, txt) in enumerate(zip(
            *(tbl[n].to_pylist() for n in tbl.column_names)
        )):
            rank = (lsn, seq or 0)
            if (c, t) not in best or rank > best[(c, t)][0]:
                best[(c, t)] = (rank, path, i, dead or txt is None)
    _, path, row, _ = next(v for _, v in sorted(best.items()) if not v[3])
    tbl = pq.read_table(path)
    texts = tbl["text"].to_pylist()
    texts[row] += " [altered]"
    col = tbl.schema.get_field_index("text")
    pq.write_table(tbl.set_column(col, "text", pa.array(texts, pa.string())), path)
    # Hadoop's local filesystem would reject the file on its stale checksum
    # sidecar; drop it so the gate sees altered data, not a read error
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return path
