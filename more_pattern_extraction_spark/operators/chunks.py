"""Per-partition chunk structs: DoD-encoded bucket timestamps + Gorilla-
XOR-encoded feature streams (BASELINE.json north rule; FIXTURES.md §4).

Replaces the reference's npz/h5 artifact store (``modules/io.py:39-129``)
with queryable chunk rows:

    (conv_id string, ts_bucket timestamp, tier string, feature string,
     n int, first_ts timestamp, first_value double,
     ts_dod binary, values_gorilla binary)

one row per (conversation, chunk window, feature).  Encode is a grouped
pandas UDF over ``(conv_id, ts_bucket)`` — the same partitioning the
rollup already produced, so at scale the shuffle is a re-use, not a new
one.

Decode takes one of two paths (``operators/local``).  A probe job
collects at most ``DRIVER_DECODE_ROWS + 1`` chunk rows, which starts no
Python worker.  A scope of no more than ``DRIVER_DECODE_ROWS`` rows (a
dashboard read of a few conversation-days) is decoded on the driver
and returned as a local frame (a ``LocalTableScan``), so the caller's
``collect()`` runs no job.  A larger one is decoded by ``mapInPandas``
(each chunk row is independent → no shuffle at all; Arrow batches
amortize the Python hop), after the probe.  The driver path avoids the
fixed cost of a Python worker task: about 0.2 s of CPU per task in
``importlib.invalidate_caches()`` alone, in PySpark's worker set-up.
Both paths give bit-equal timestamps and values, and a decoded NaN
reads as NULL on both: the worker's pandas output goes through Arrow's
pandas conversion, and the driver builds its value array with
``from_pandas=True``, which does the same.

Scale notes: a 1m-tier chunk covering 1 day is ≤1440 points — thousands of
chunks per executor core, each encoded in ~100 µs.  Hot conversations are
already split by ``ts_bucket`` so no salting is needed here; skew handling
for raw-turn UDFs lives in plans/partitioning.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from more_pattern_extraction_spark.functions.encode import (
    decode_dod,
    decode_gorilla,
)
from more_pattern_extraction_spark.operators import local

CHUNK_SCHEMA = (
    "conv_id string, ts_bucket timestamp, tier string, feature string, "
    "n int, first_ts timestamp, first_value double, "
    "ts_dod binary, values_gorilla binary"
)

DECODE_SCHEMA = (
    "conv_id string, feature string, bucket_start timestamp, value double"
)

_CHUNK_UNIT = {"1m": "day", "1h": "month", "1d": "year"}


def encode_chunks(
    rollup: DataFrame,
    features: list[str],
    tier: str = "1m",
    chunk_unit: str | None = None,
) -> DataFrame:
    """Encode a tier's rollup rows into chunk structs.

    ``chunk_unit`` defaults to one day of 1m buckets / one month of 1h
    buckets / one year of 1d buckets (≤1440 points per chunk each way).

    Physical plan: repartition by ``(conv_id, ts_bucket)`` — a hot
    multi-year conversation spreads across many tasks instead of pinning
    one — then ``sortWithinPartitions`` so chunk groups arrive contiguous,
    and a single ``mapInPandas`` encodes EVERY chunk of an Arrow batch in
    one vectorized numpy pass (functions/encode.encode_*_many; the
    per-group Python overhead of grouped UDFs dominated before).  Arrow
    batches can split a chunk group, so the trailing partial group of each
    batch is carried into the next and flushed at end-of-partition.
    """
    unit = chunk_unit or _CHUNK_UNIT[tier]
    feats = list(features)

    def _encode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        from more_pattern_extraction_spark.functions.encode import (
            encode_dod_many,
            encode_gorilla_many,
        )

        conv = pdf["conv_id"].to_numpy(dtype=object)
        tsb = pdf["ts_bucket"].to_numpy()
        new = np.ones(len(pdf), dtype=bool)
        new[1:] = (conv[1:] != conv[:-1]) | (tsb[1:] != tsb[:-1])
        chunk_ids = np.cumsum(new) - 1
        n_chunks = int(chunk_ids[-1]) + 1
        first_idx = np.flatnonzero(new)
        n_per = np.bincount(chunk_ids, minlength=n_chunks)

        ts = pdf["bucket_start"].astype("datetime64[ns]").astype("int64").to_numpy()
        ts_dod = encode_dod_many(ts, chunk_ids, n_chunks)
        parts = []
        for f in feats:
            vals = pdf[f].to_numpy(dtype="float64", na_value=float("nan"))
            parts.append(
                pd.DataFrame(
                    {
                        "conv_id": conv[first_idx],
                        "ts_bucket": tsb[first_idx],
                        "tier": tier,
                        "feature": f,
                        "n": n_per.astype("int32"),
                        "first_ts": pdf["bucket_start"].to_numpy()[first_idx],
                        "first_value": vals[first_idx],
                        "ts_dod": ts_dod,
                        "values_gorilla": encode_gorilla_many(vals, chunk_ids, n_chunks),
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    def enc_iter(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the trailing (conv, ts_bucket) group — it may
            # continue in the next Arrow batch of this partition
            last_conv = pdf["conv_id"].iloc[-1]
            last_tsb = pdf["ts_bucket"].iloc[-1]
            tail = (pdf["conv_id"] == last_conv) & (pdf["ts_bucket"] == last_tsb)
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield _encode_batch(body)
        if carry is not None and len(carry):
            yield _encode_batch(carry)

    # Project to exactly the columns the encoder touches BEFORE the
    # exchange and the Python boundary: mapInPandas is opaque to Catalyst,
    # so without this every rollup column is shuffled and shipped through
    # Arrow (guide §2.3/§4.1; measured ~30 % of the encode wall at sf0.1).
    keyed = (
        rollup.select("conv_id", "bucket_start", *feats)
        .withColumn("ts_bucket", F.date_trunc(unit, "bucket_start"))
        .repartition("conv_id", "ts_bucket")
        .sortWithinPartitions("conv_id", "ts_bucket", "bucket_start")
    )
    return keyed.mapInPandas(enc_iter, CHUNK_SCHEMA)


#: chunk rows up to which ``decode_chunks`` decodes on the driver; more
#: rows go through the ``mapInPandas`` plan.  Measured crossover
#: (scripts/DECODE_CROSSOVER_r08.json, local[4], full-day 1,440-point
#: rows, medians of 5 rounds): process-tree CPU, driver vs worker, 1.89
#: vs 2.84 s at 64 rows and 7.65 vs 7.30 s at 256 (crossing near 200);
#: wall 0.42 vs 0.68 s at 16 rows and 1.45 vs 1.23 s at 64 (crossing
#: near 40).  64 favours CPU; rows of fewer points move both crossings up.
DRIVER_DECODE_ROWS = 64

_DECODE_COLS = ("conv_id", "feature", "n", "ts_dod", "values_gorilla")


def _decode_rows(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``(conv_id, feature, bucket_start ns, value)`` arrays of the points
    of ``rows``, an iterable of ``_DECODE_COLS`` tuples, one per chunk."""
    convs, feats, ns = [], [], []
    ts_parts = [np.empty(0, dtype=np.int64)]
    val_parts = [np.empty(0, dtype=np.float64)]
    for conv, feat, n, ts_dod, values_gorilla in rows:
        ts_parts.append(decode_dod(bytes(ts_dod), n))
        val_parts.append(decode_gorilla(bytes(values_gorilla), n))
        convs.append(conv)
        feats.append(feat)
        ns.append(n)
    return (
        np.repeat(np.array(convs, dtype=object), ns),
        np.repeat(np.array(feats, dtype=object), ns),
        np.concatenate(ts_parts),
        np.concatenate(val_parts),
    )


def _decode_plan(chunks: DataFrame) -> DataFrame:
    """``decode_chunks``' ``mapInPandas`` plan, with no probe: the form
    for a caller whose input is an unwritten plan (``plans/entry``'s
    ``encode_chunks`` round trip), which the probe would compute twice.
    Chunk rows decode independently, preserving whatever partitioning
    the chunk table has (no shuffle)."""

    def dec(batches):
        for pdf in batches:
            if len(pdf):
                conv, feat, ts, value = _decode_rows(
                    pdf[list(_DECODE_COLS)].itertuples(index=False, name=None))
                yield pd.DataFrame({
                    "conv_id": conv,
                    "feature": feat,
                    "bucket_start": pd.to_datetime(ts, unit="ns"),
                    "value": value,
                })

    return chunks.mapInPandas(dec, DECODE_SCHEMA)


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Inverse of encode_chunks → (conv_id, feature, bucket_start, value).

    One probe job (``local.probe``) collects at most
    ``DRIVER_DECODE_ROWS + 1`` chunk rows (no Python worker).  If the
    input has no more than ``DRIVER_DECODE_ROWS`` rows they are decoded
    on the driver and returned as a local frame, whose ``collect()`` runs
    no job.  Otherwise the result is ``_decode_plan(chunks)``.  Both
    paths give bit-equal timestamps and values, and a decoded NaN reads
    as NULL (pandas → Arrow semantics).

    The probe runs when this is called, and the ``mapInPandas`` path
    computes ``chunks`` a second time: an input that is costly to compute
    (an ``encode_chunks`` plan) is best stored first, or handed to
    ``_decode_plan``."""
    rows = local.probe(chunks.select(*_DECODE_COLS), DRIVER_DECODE_ROWS)
    if rows is None:
        return _decode_plan(chunks)
    conv, feat, ts, value = _decode_rows(rows)
    table = pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "feature": pa.array(feat, pa.string()),
        "bucket_start": pa.array(ts.view("datetime64[ns]")),
        "value": pa.array(value, from_pandas=True),
    })
    return chunks.sparkSession.createDataFrame(table, DECODE_SCHEMA)
