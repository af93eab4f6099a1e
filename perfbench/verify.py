"""Output checks: a sink against the extraction oracle, a query result
against its DuckDB oracle.  Both run untimed, after the timed region."""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

from .inputs import METRIC_COLS

# every output field of a sink row the oracle predicts
COMPARED = ["ts_us", "route", "md", "md_nlp", "content_list",
            "content_list_v2", "middle", "spans", *METRIC_COLS]


def canonical_spans(spans) -> str:
    return json.dumps([[int(s["page_idx"]), [float(v) for v in s["bbox"]],
                        s["type"], s["content"]] for s in spans or []],
                      ensure_ascii=False)


def read_sink(extracted: Path) -> list[dict]:
    """Every row of a sink's ``extracted`` dir (day-partitioned or flat)
    in the oracle's canonical form."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    cols = ["conv_id", "turn_idx", "ts", "route", "md", "md_nlp",
            "content_list", "content_list_v2", "middle", "spans",
            *METRIC_COLS]
    t = ds.dataset(extracted, format="parquet",
                   partitioning="hive").to_table(columns=cols)
    ts = t.column("ts")
    us = pc.cast(pc.cast(ts, pa.timestamp("us", tz=ts.type.tz), safe=False),
                 pa.int64())
    t = t.drop_columns(["ts"]).append_column("ts_us", us)
    rows = t.to_pylist()
    for r in rows:
        r["spans"] = canonical_spans(r["spans"])
    return rows


def sink_failures(rows: list[dict], expected: dict) -> dict:
    """Turns that are missing, duplicated, routed ``error`` or unequal to
    the oracle in any compared field; sink rows of unknown turns count
    too.  Returns the counts per kind plus ``failed``."""
    seen = Counter((r["conv_id"], r["turn_idx"]) for r in rows)
    bad, errors, unknown = set(), set(), 0
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        exp = expected.get(key)
        if exp is None:
            unknown += 1
        elif r["route"] == "error":
            errors.add(key)
        elif any(r[c] != exp[c] for c in COMPARED):
            bad.add(key)
    missing = {k for k in expected if not seen[k]}
    dups = {k for k, n in seen.items() if n > 1 and k in expected}
    return {"missing": len(missing), "duplicated": len(dups),
            "error": len(errors), "mismatch": len(bad), "unknown": unknown,
            "failed": len(missing | dups | errors | bad) + unknown}


def query_matches(got, exp) -> bool:
    """The repository's oracle-gate rule (tools/oracle_check.py): same
    columns, dtype kinds, row count and order-insensitive values."""
    import pandas as pd
    from tools.oracle_check import dtype_kinds, normalize

    g, e = normalize(got), normalize(exp)
    if list(g.columns) != list(e.columns) or len(g) != len(e) \
            or dtype_kinds(got) != dtype_kinds(exp):
        return False
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, rtol=0, atol=0)
    except AssertionError:
        return False
    return True
