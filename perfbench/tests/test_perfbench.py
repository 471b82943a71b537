"""Tests of the benchmark's own parts: generator, gate, status reader.

    python3 -m pytest perfbench/tests -q
"""

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.spark_status import StatusReader, parse_metric
from perfbench.workloads import JoinWorkload, RasterFocal, pair_checksum_cols


def test_docs_generator_is_deterministic_per_seed(tmp_path):
    a, cols_a = inputs.docs_chunk(500, 7, 0)
    b, cols_b = inputs.docs_chunk(500, 7, 0)
    c, _ = inputs.docs_chunk(500, 8, 0)
    assert a.equals(b) and not a.equals(c)
    for k in cols_a:
        np.testing.assert_array_equal(cols_a[k], cols_b[k])
    # two chunks: ids continue across the chunk boundary
    inputs.CHUNK, old = 300, inputs.CHUNK
    try:
        inputs.write_docs(str(tmp_path / "x"), 500, 3)
        inputs.write_docs(str(tmp_path / "y"), 500, 3)
    finally:
        inputs.CHUNK = old
    assert inputs._dir_hash(str(tmp_path / "x" / "data")) \
        == inputs._dir_hash(str(tmp_path / "y" / "data"))
    ids = pq.read_table(str(tmp_path / "x" / "data")).column("doc_id").to_pylist()
    assert ids == [f"doc-{i:09d}" for i in range(500)]


def test_docs_generator_matches_fixture_generator():
    """Chunk 0 is row-for-row ``fixtures.docs_pandas`` of the same seed,
    and the golden coordinates are the doubles parsed from its text."""
    from gdal_spark.sources import fixtures as fx

    table, cols = inputs.docs_chunk(1500, 11, 0)
    ref = fx.docs_pandas(1500, 11)
    rows = table.to_pylist()
    assert [r["doc_id"] for r in rows] == list(ref["doc_id"])
    assert [r["spans"] for r in rows] == [list(s) for s in ref["spans"]]
    geo_x = [float(s["text"][6:-1].split()[0])
             for r in rows for s in r["spans"] if s["kind"] == "geo"]
    np.testing.assert_array_equal(cols["x"], geo_x)


def _join_output(spark, doc, fid, nspans):
    pdf = pd.DataFrame({
        "doc_id": [f"doc-{d:09d}" for d in doc],
        "fid": fid,
        "spans": [[{"kind": "text", "text": "", "media_ref": "", "offset": i}
                   for i in range(n)] for n in nspans],
    })
    return spark.createDataFrame(
        pdf, "doc_id string, fid long, spans array<struct<kind:string,"
             "text:string,media_ref:string,offset:long>>")


def test_join_gate_flags_dropped_or_duplicated_row(spark):
    doc = np.array([3, 5, 5, 9, 12])
    fid = np.array([1, 1, 4, 0, 7])
    nspans = np.array([2, 3, 3, 1, 5])
    wl = JoinWorkload(0, 256, {})
    wl.meta = {"golden": inputs.pair_checksum(doc, fid, nspans)}

    def gate(d, f, n):
        row = pair_checksum_cols(_join_output(spark, d, f, n)).collect()[0]
        return wl.check(spark, {k: int(v) for k, v in row.asDict().items()})

    assert gate(doc, fid, nspans)
    assert not gate(doc[1:], fid[1:], nspans[1:])                      # dropped
    dup = [0, 1, 2, 3, 4, 4]
    assert not gate(doc[dup], fid[dup], nspans[dup])                   # duplicated
    assert not gate(doc, np.array([1, 1, 4, 0, 6]), nspans)            # wrong fid


def test_focal_gate_flags_missing_or_changed_tile():
    wl = RasterFocal(2)
    wl.meta = {"golden": {"0,0": 11, "1,0": 12, "0,1": 13, "1,1": 14}}
    assert wl.check(None, dict(wl.meta["golden"]))
    assert not wl.check(None, {"0,0": 11, "1,0": 12, "0,1": 13})
    assert not wl.check(None, {"0,0": 11, "1,0": 12, "0,1": 13, "1,1": 15})


def test_parse_metric_display_strings():
    head = "total (min, med, max (stageId: taskId))\n"
    assert parse_metric(head + "2.6 s (27 ms, 1.3 s, 1.3 s (stage 0.0: task 0))") == 2.6
    assert parse_metric(head + "345 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 4))") \
        == pytest.approx(0.345)
    assert parse_metric(head + "1563.4 KiB (390.8 KiB, ...)") == 1563.4 * 1024
    assert parse_metric("100,000") == 100000


def test_status_reader_on_tiny_map_in_pandas(spark):
    def double(batches):
        for pdf in batches:
            yield pdf.assign(y=pdf["id"] * 2)

    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test/1", "tiny", False)
    try:
        (spark.range(4000, numPartitions=2).mapInPandas(double, "id long, y long")
         .write.format("noop").mode("overwrite").save())
    finally:
        sc.setJobGroup("perfbench-test/-", "", False)
    m = StatusReader(spark).read(["perfbench-test/1"])["perfbench-test/1"]
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 1
    assert m["spark.tasks"] == 2
    assert m["spark.executor_run_s"] > 0
    assert m["py.run_s"] > 0
    # 4,000 longs go out, 4,000 pairs of longs come back
    assert 32_000 <= m["py.bytes_sent"] < 200_000
    assert m["py.bytes_returned"] > m["py.bytes_sent"]
    assert m["task.skew"] >= 1.0
    assert StatusReader(spark).read(["no-such-group"])["no-such-group"]["spark.jobs"] == 0
