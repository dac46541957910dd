"""Python DataSource connector tests, mirroring the reference's
source-suite strategy (SURVEY.md §5): filter-compile unit tests
(TableStoreFilterSuite), batch read parity, streaming offset
progression + rate limit + new-shard discovery
(LoghubMicroBatchSourceSuite :128-498).
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    In,
    IsNull,
    Not,
    StringStartsWith,
)

from pyspark.sql.types import LongType, StringType, StructField, StructType

from aliyun_emapreduce_datasources_spark.sources.pyds import (
    LogShardStreamReader,
    compile_filters,
    register_all,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_all(spark)


# --- filter compiler (S2/S3) ------------------------------------------

def test_compile_accepts_supported_and_residuals_rest():
    cols = {"a", "b"}
    fs = [
        EqualTo(("a",), 1),
        GreaterThan(("b",), 5),
        In(("a",), (1, 2, 3)),
        Not(EqualTo(("a",), 9)),
        StringStartsWith(("b",), "x"),
        EqualTo(("missing",), 1),        # unknown column -> residual
        Not(EqualTo(("missing",), 1)),   # Not over unsupported -> residual
        EqualTo(("a", "nested"), 1),     # nested path -> residual
    ]
    expr, accepted, residual = compile_filters(fs, cols)
    assert len(accepted) == 5 and len(residual) == 3
    assert expr is not None


def test_compile_isnull_roundtrip():
    expr, accepted, residual = compile_filters([IsNull(("a",))], {"a"})
    assert accepted and not residual


# --- emrkv batch (S1) -------------------------------------------------

CATALOG = json.dumps(
    {
        "columns": {
            "doc_id": {"type": "bigint"},
            "lang": {"type": "string"},
            "n_chars": {"type": "bigint"},
        }
    }
)


def _kv(spark, sf_dir):
    return (
        spark.read.format("emrkv")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .option("catalog", CATALOG)
        .load()
    )


def test_emrkv_catalog_subset_schema(spark, sf_dir):
    df = _kv(spark, sf_dir)
    assert [f.name for f in df.schema.fields] == ["doc_id", "lang", "n_chars"]


def test_emrkv_pushed_filter_parity(spark, sf_dir):
    got = (
        _kv(spark, sf_dir)
        .where((F.col("lang") == "en") & (F.col("n_chars") > 150))
        .agg(F.count(F.lit(1)), F.sum("doc_id"))
        .collect()[0]
    )
    exp = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .where((F.col("lang") == "en") & (F.col("n_chars") > 150))
        .agg(F.count(F.lit(1)), F.sum("doc_id"))
        .collect()[0]
    )
    assert tuple(got) == tuple(exp)


def test_emrkv_residual_filter_applied_by_spark(spark, sf_dir):
    # length(lang)=2 can't push -> must still be applied post-scan
    got = _kv(spark, sf_dir).where(F.length("lang") == 2).count()
    exp = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()
    assert got == exp  # every lang code is 2 chars


def test_emrkv_schema_inference_without_catalog(spark, sf_dir):
    df = (
        spark.read.format("emrkv")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .load()
    )
    assert set(df.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert df.count() == spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()


# --- emrlog streaming (S5/S9) -----------------------------------------

def _write_shard(d: str, shard: int, n: int, start: int = 0) -> None:
    mode = "a" if os.path.exists(os.path.join(d, f"shard-{shard}.jsonl")) else "w"
    with open(os.path.join(d, f"shard-{shard}.jsonl"), mode) as fh:
        for i in range(start, start + n):
            fh.write(json.dumps({"k": shard * 1000 + i, "v": f"s{shard}r{i}"}) + "\n")


def _wait_rows(spark, table: str, want: int, timeout: float = 30.0) -> int:
    deadline = time.time() + timeout
    n = 0
    while time.time() < deadline:
        n = spark.sql(f"SELECT count(*) c FROM {table}").collect()[0].c
        if n >= want:
            break
        time.sleep(0.3)
    return n


def test_emrlog_rate_limit_and_shard_discovery(spark, tmp_path):
    d = str(tmp_path)
    for shard in range(3):
        _write_shard(d, shard, 40)
    q = (
        spark.readStream.format("emrlog")
        .option("path", d)
        .option("schema", "k bigint, v string")
        .option("maxOffsetsPerTrigger", "25")
        .load()
        .writeStream.format("memory")
        .queryName("emrlog_rate")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        assert _wait_rows(spark, "emrlog_rate", 120) == 120
        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
        # 120 rows at <=25/trigger needs >=5 batches, none exceeding cap
        assert len(progresses) >= 5
        assert max(p["numInputRows"] for p in progresses) <= 25
        # shard appearing mid-stream is discovered and read from row 0
        _write_shard(d, 3, 10)
        assert _wait_rows(spark, "emrlog_rate", 130) == 130
        ks = {r.k for r in spark.sql("SELECT k FROM emrlog_rate").collect()}
        assert {3000 + i for i in range(10)} <= ks
        assert len(ks) == 130  # exactly-once per offset range
    finally:
        q.stop()


def test_emrlog_append_resumes_from_cursor(spark, tmp_path):
    d = str(tmp_path)
    _write_shard(d, 0, 5)
    q = (
        spark.readStream.format("emrlog")
        .option("path", d)
        .option("schema", "k bigint, v string")
        .load()
        .writeStream.format("memory")
        .queryName("emrlog_resume")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        assert _wait_rows(spark, "emrlog_resume", 5) == 5
        _write_shard(d, 0, 5, start=5)  # rows appended to same shard
        assert _wait_rows(spark, "emrlog_resume", 10) == 10
        ks = sorted(r.k for r in spark.sql("SELECT k FROM emrlog_resume").collect())
        assert ks == list(range(10))
    finally:
        q.stop()


def test_emrlog_unterminated_tail_is_offered_only_once_complete(tmp_path):
    """A shard writer can flush mid-line. The half-written last line
    must not count toward latestOffset (read() would json.loads it),
    and once its newline lands it is read exactly once."""
    d = str(tmp_path)
    _write_shard(d, 0, 3)
    tail = json.dumps({"k": 3, "v": "s0r3"})
    with open(os.path.join(d, "shard-0.jsonl"), "a") as fh:
        fh.write(tail[:7])
    schema = StructType([StructField("k", LongType()), StructField("v", StringType())])
    reader = LogShardStreamReader(schema, {"path": d})

    def read(start, end):
        return [row for split in reader.partitions(start, end) for row in reader.read(split)]

    start = reader.latestOffset()  # first call: earliest
    end = reader.latestOffset()
    assert end == {"shard-0.jsonl": 3}
    assert read(start, end) == [(i, f"s0r{i}") for i in range(3)]
    assert reader.latestOffset() == end

    with open(os.path.join(d, "shard-0.jsonl"), "a") as fh:
        fh.write(tail[7:] + "\n")
    end2 = reader.latestOffset()
    assert end2 == {"shard-0.jsonl": 4}
    assert read(end, end2) == [(3, "s0r3")]


# --- emrkv write path (S4/S8/S23) ---------------------------------------

def test_emrkv_batch_write_roundtrip(spark, sf_dir, tmp_path):
    src = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    out = str(tmp_path / "kv_out")
    os.makedirs(out)
    src.write.format("emrkv").option("path", out).mode("append").save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.listdir(os.path.join(out, "_staging"))  # all promoted
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_emrkv_stream_write_exactly_once(spark, tmp_path):
    d_in = str(tmp_path / "shards")
    d_out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d_in)
    os.makedirs(d_out)
    _write_shard(d_in, 0, 20)
    stream = (
        spark.readStream.format("emrlog")
        .option("path", d_in)
        .option("schema", "k bigint, v string")
        .load()
    )
    q = (
        stream.writeStream.format("emrkv")
        .option("path", d_out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            files = [f for f in os.listdir(d_out) if f.endswith(".parquet")]
            if files and spark.read.parquet(d_out + "/*.parquet").count() >= 20:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    got = spark.read.parquet(d_out + "/*.parquet")
    assert got.count() == 20
    assert {r.k for r in got.collect()} == set(range(20))

    # replayed batch: re-committing an already-manifested batchId must
    # drop the duplicate staged files, not double the table
    manifests = [f for f in os.listdir(d_out) if f.startswith("_batch-")]
    assert manifests
    # restart from the same checkpoint with more data appended
    _write_shard(d_in, 0, 10, start=20)
    q2 = (
        spark.readStream.format("emrlog")
        .option("path", d_in)
        .option("schema", "k bigint, v string")
        .load()
        .writeStream.format("emrkv")
        .option("path", d_out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.read.parquet(d_out + "/*.parquet").count() >= 30:
                break
            time.sleep(0.3)
    finally:
        q2.stop()
    got2 = spark.read.parquet(d_out + "/*.parquet")
    assert got2.count() == 30  # no duplicates across restart
    assert {r.k for r in got2.collect()} == set(range(30))


def test_emrlog_rate_limited_restart_no_duplicates(spark, tmp_path):
    """Checkpoint restart under maxOffsetsPerTrigger: the reader's
    in-memory rate cursor dies with the driver, and Spark calls
    latestOffset before initialOffset, so a naive clamp-from-zero
    would hand back offsets BEHIND the checkpointed start and replay
    committed rows. The restart protocol (earliest-on-first-call +
    planned-floor clipping) must deliver exactly the new rows."""
    d = str(tmp_path / "shards")
    os.makedirs(d)
    cp = str(tmp_path / "ckpt")
    _write_shard(d, 0, 60)

    out = str(tmp_path / "acc")

    def start():
        def on_batch(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        return (
            spark.readStream.format("emrlog")
            .option("path", d)
            .option("schema", "k bigint, v string")
            .option("maxOffsetsPerTrigger", "25")
            .load()
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", cp)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def wait_parquet(want, timeout=30.0):
        deadline = time.time() + timeout
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
            if n >= want:
                break
            time.sleep(0.3)
        return n

    q = start()
    try:
        assert wait_parquet(60) == 60
    finally:
        q.stop()

    _write_shard(d, 0, 30, start=60)  # arrives while the query is down
    q = start()
    try:
        assert wait_parquet(90) == 90
        q.processAllAvailable()  # let any erroneous replay surface
    finally:
        q.stop()
    ks = sorted(r.k for r in spark.read.parquet(out).collect())
    assert ks == list(range(90)), (len(ks), ks[:10], ks[-10:])
