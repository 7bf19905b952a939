"""Streaming quantile-bin tokenization — the reference's flagship
fit/transform pipeline (etl_benchmark.py:74,79; SURVEY.md §2.1 O5-O9)
applied to a micro-batched stream.

Topology: the FIT runs at most once per session on the batch table
(the distributed exact percentile plan — KBs of driver state), the frozen boundaries are
captured in the streaming plan, and every micro-batch runs the same
map-only JVM Bucketizer projection — no state store, no stream-side
shuffle, trivially scales to any ingest rate. This is the online-serving
shape of the model: fit offline, transform on the stream.

Oracle: transform determinism means the drained append-mode stream must
equal the batch transform — the same boundary-counting SQL that pins
quantile_bin_exact_boundaries, here with the exact (distributed) fit.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..operators.quantile_bin import (
    LINEITEM_KEYS,
    LINEITEM_MEASURES,
    bucketize,
)
from ..session import configure_for_oracle


def q_streaming_tokenize_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenize the lineitem STREAM with the frozen boundary model,
    drain the append-mode sink.

    The frozen model is the session's exact lineitem model
    (`exact_lineitem_boundaries` — the exact fit + 6dp rounding, fitted
    at most once per session and shared with the quantile_bin serving
    lanes): a streaming tokenizer deploying a model it refits per query
    would not honour the train/serve split. The fit cost lives in the
    fit lanes (quantile_bin_scalable, quantile_bin_exact_boundaries);
    this entry measures what the production stream pays — per-batch
    map-only Bucketizer + sink drain.

    Everything the lane writes lives under one directory it creates: the
    stream's source (a symlink to the fixture table) and checkpoint are
    removed once the stream stops, and only the sink remains."""
    from ..operators.quantile_bin_queries import exact_lineitem_boundaries
    from ..session import parquet_schema

    configure_for_oracle(spark)
    bounds = exact_lineitem_boundaries(spark, sf_dir)
    # The data dir must outlive this call (the returned DataFrame reads
    # it lazily); the source and the single-use checkpoint do not.
    out_dir = tempfile.mkdtemp(prefix="stream_tokenize_out_")
    src_dir = os.path.join(out_dir, "src")
    data_dir = os.path.join(out_dir, "data")
    ckpt_dir = os.path.join(out_dir, "ckpt")
    src = os.path.abspath(os.path.join(sf_dir, "lineitem.parquet"))
    os.makedirs(src_dir)
    os.symlink(src, os.path.join(src_dir, "lineitem.parquet"))
    stream = spark.readStream.schema(parquet_schema(spark, src)).parquet(src_dir)
    tokens = bucketize(stream, bounds, keep_cols=LINEITEM_KEYS)
    # Parquet file sink, not the memory sink (r13, guide §5 "the driver
    # should do almost no data work": the memory sink COLLECTED the
    # full 600k-row tokenized output to the driver per drain — A/B
    # 3.1-3.9 s vs 1.5-1.7 s with a distributed file sink; row set
    # identical, value-verified by the oracle). This is also the
    # production topology the lane's docstring claims: a stream
    # tokenizer lands rows in a table, it does not collect them.
    q = (
        tokens.writeStream.outputMode("append")
        .format("parquet")
        .option("path", data_dir)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)
    return spark.read.parquet(data_dir)


_PROBS = ",".join(str(i / 100) for i in range(101))
_BND_COLS = ",\n    ".join(
    f"list_sort(list_distinct(list_transform("
    f"list_slice(quantile_cont({c}, [{_PROBS}]), 2, 100), x -> round(x, 6)))) AS b_{c}"
    for c in LINEITEM_MEASURES
)
_BIN_COLS = ",\n  ".join(
    f"CAST(len(list_filter(b.b_{c}, x -> x <= t.{c})) AS INTEGER) AS {c}_bin"
    for c in LINEITEM_MEASURES
)

QUERIES = {"streaming_tokenize_lineitem": q_streaming_tokenize_lineitem}

ORACLES = {
    "streaming_tokenize_lineitem": f"""
WITH b AS (
  SELECT
    {_BND_COLS}
  FROM lineitem
)
SELECT t.l_orderkey, t.l_linenumber,
  {_BIN_COLS}
FROM lineitem t, b
""",
}
