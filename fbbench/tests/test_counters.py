import json

from counters import StatusReader, Tracer, job_totals, source_totals


def test_spans_collect_their_jobs_and_tag_them(spark):
    reader = StatusReader(spark)
    tracer = Tracer(reader, "t", enabled=True)
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    with tracer.span("outer", "x"):
        with tracer.span("inner", "y"):
            assert len(df.collect()) == 7
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"] and outer["jobs"] == []
    assert inner["jobs"] and all(j["group"] == inner["id"] for j in inner["jobs"])
    tot = job_totals(inner["jobs"])
    assert tot["jobs"] >= 1 and tot["tasks"] >= 1 and tot["run_ms"] >= 0
    assert tot["shuffle_write_bytes"] > 0
    assert not reader.missing
    # spans are written out with self time
    dumped = tracer.dump()
    assert dumped[0]["self_s"] <= dumped[0]["end_s"] - dumped[0]["start_s"]
    # job group is cleared after the outermost span
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_listing_jobs_and_file_counts_are_detected(spark, tmp_path):
    for i in range(40):  # above Spark's parallel partition discovery threshold
        d = tmp_path / f"i{i}"
        d.mkdir()
        (d / "c.json").write_text(json.dumps({"a": i}) + "\n")
    reader = StatusReader(spark)
    tracer = Tracer(reader, "l", enabled=True)
    with tracer.span("scan", "sources"):
        n = spark.read.schema("a long").json(f"{tmp_path}/*/*.json").count()
    assert n == 40
    totals = source_totals(tracer.spans[0]["jobs"])
    assert totals["list_tasks"] == 40 and totals["input_records"] >= 40
    assert tracer.spans[0]["files_read"] == 40


def test_a_failing_probe_is_recorded_and_the_run_goes_on(spark):
    reader = StatusReader(spark)
    reader._store = object()  # every call on it raises
    assert reader.new_jobs() == []
    assert "jobs_list" in reader.missing
    with Tracer(reader, "m", enabled=True).span("s", "x") as span:
        spark.range(3).count()
    assert span["jobs"] == []


def test_a_disabled_tracer_records_nothing(spark):
    tracer = Tracer(None, "off", enabled=False)
    with tracer.span("s", "x") as span:
        spark.range(3).count()
    assert span is None and tracer.spans == []
