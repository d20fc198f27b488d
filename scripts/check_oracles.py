"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at a given sf and compare against
oracle_sql() via DuckDB — row count, schema (sorted column names), and an
order-insensitive value comparison.

The comparison is ARROW-LEVEL to match the driver's value hash:
NULL and NaN are distinct, floats compare bit-for-bit (so -0.0 != 0.0,
but NaN == NaN), and dtype families must agree (an int64 Spark column vs a
DuckDB HUGEINT/decimal128 sum is flagged — the driver stringifies those
differently even when values are numerically equal).

Usage: python scripts/check_oracles.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _family(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    return str(t)


def _to_frames(tbl: pa.Table) -> tuple[pd.DataFrame, pd.DataFrame, dict[str, str]]:
    """(values, null-mask, column→type-family). Values frame keeps NaN for
    both NULL and NaN; the mask frame distinguishes them."""
    import pyarrow.compute as pc

    cols, masks, fams = {}, {}, {}
    for c in tbl.column_names:
        arr = tbl.column(c).combine_chunks()
        fams[c] = _family(arr.type)
        masks[c] = pc.is_null(arr).to_pandas().to_numpy()
        s = arr.to_pandas()
        if pa.types.is_timestamp(arr.type) or pa.types.is_date(arr.type):
            s = pd.to_datetime(s)
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            s = s.astype("datetime64[us]")
            fams[c] = "timestamp"  # date-vs-timestamp: driver coerces, so do we
        cols[c] = s
    pdf = pd.DataFrame(cols)[sorted(cols)]
    mdf = pd.DataFrame(masks)[sorted(cols)]
    # null-mask columns as SECONDARY sort keys: two rows tied on all value
    # columns but differing in NULL-vs-NaN (both NaN in the value frame)
    # would otherwise sort in either order across engines, producing
    # spurious positional mask mismatches
    comb = pd.concat([pdf, mdf.add_suffix("\x00mask")], axis=1)
    order = comb.sort_values(list(comb.columns), na_position="first").index
    return pdf.loc[order].reset_index(drop=True), mdf.loc[order].reset_index(drop=True), fams


def compare(name: str, got: pa.Table, exp: pa.Table) -> list[str]:
    errs = []
    if sorted(got.column_names) != sorted(exp.column_names):
        return [f"schema: {sorted(got.column_names)} vs {sorted(exp.column_names)}"]
    if got.num_rows != exp.num_rows:
        return [f"rowcount: {got.num_rows} vs {exp.num_rows}"]
    g, gm, gf = _to_frames(got)
    e, em, ef = _to_frames(exp)
    for c in g.columns:
        if gf[c] != ef[c] and {gf[c], ef[c]} != {"int"}:
            # int64 vs int32 is fine (driver compares values); int vs
            # decimal/float is NOT (stringifies as "370" vs "370.0")
            if not (gf[c] == ef[c] == "int"):
                if {gf[c], ef[c]} & {"decimal"} or {gf[c], ef[c]} == {"int", "float"}:
                    errs.append(f"col {c}: dtype family {gf[c]} vs {ef[c]} (driver-hash divergent)")
                    continue
        if (gm[c].to_numpy() != em[c].to_numpy()).any():
            i = int(np.argmax(gm[c].to_numpy() != em[c].to_numpy()))
            errs.append(f"col {c}: NULL-mask mismatch, first at row {i} "
                        f"(spark null={bool(gm[c][i])}, oracle null={bool(em[c][i])})")
            continue
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(e[c]):
            gv = np.asarray(gv, dtype="float64")
            ev = np.asarray(ev, dtype="float64")
            both_nan = np.isnan(gv) & np.isnan(ev)
            bad = (gv.view("int64") != ev.view("int64")) & ~both_nan
        else:
            bad = ~((gv == ev) | (pd.isna(gv) & pd.isna(ev)))
        if bad.any():
            i = int(np.argmax(bad))
            errs.append(f"col {c}: {int(bad.sum())} mismatches, first at row {i}: {gv[i]!r} vs {ev[i]!r}")
    return errs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from more_pattern_extraction_spark.plans import entry as plans_entry
    from more_pattern_extraction_spark.session import get_spark

    # data-dependent lazy oracles (IVF centroids) must train on THIS
    # sf_dir, not a hardcoded default (ADVICE r05)
    plans_entry.set_oracle_sf_dir(sf_dir)
    # the Python workers import the package too (chunk codec and pattern
    # UDFs), whatever directory the script runs from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    spark = get_spark("check_oracles", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = entry.queries(), entry.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toArrow()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            results[name] = {"status": "fail", "errors": [f"spark error: {ex}"]}
            n_fail += 1
            continue
        if name not in os_:
            print(f"ROWS {name}: {got.num_rows} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = {"status": "rows_only", "spark_rows": got.num_rows}
            n_rows_only += 1
            continue
        try:
            exp = con.execute(os_[name]).arrow()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            results[name] = {"status": "fail", "errors": [f"duckdb error: {ex}"]}
            n_fail += 1
            continue
        errs = compare(name, got, exp)
        secs = round(time.time() - t0, 1)
        if errs:
            print(f"FAIL {name} [{secs}s]")
            for e in errs[:4]:
                print(f"     {e}")
            results[name] = {"status": "fail", "spark_rows": got.num_rows,
                             "oracle_rows": exp.num_rows, "secs": secs,
                             "errors": errs[:4]}
            n_fail += 1
        else:
            print(f"PASS {name}: {got.num_rows} rows [{secs}s]")
            results[name] = {"status": "pass", "spark_rows": got.num_rows,
                             "oracle_rows": exp.num_rows, "secs": secs}
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    # full-run verification artifact (ADVICE r03: the in-repo proof that
    # EVERY registered query was value-verified at this HEAD, not just
    # the driver's 50-query window)
    json_out = os.environ.get("MPE_ORACLE_JSON")
    if json_out:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=ROOT,
        ).stdout.strip()
        with open(json_out, "w") as f:
            json.dump({"git_head": head, "sf_dir": sf_dir,
                       "summary": {"pass": n_pass, "fail": n_fail,
                                   "rows_only": n_rows_only},
                       "queries": results}, f, indent=1)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
