"""End-to-end pipeline test (SURVEY §7 M4): dirty landing CSVs ->
repair -> schema-registry clean -> partitioned staging -> SCD2 mart,
all through pipeline.run_batch_pipeline; plus the streaming SCD2
refresh (foreachBatch + checkpoint) across two snapshot arrivals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from synthea_etl_spark.pipeline import run_batch_pipeline, scd2_refresh_stream
from synthea_etl_spark.sources.schema_registry import save_schema

PATIENT_COLS = (
    "id birthdate first last marital race ethnicity gender address city state zip"
).split()


def _registry(tmp_path):
    reg = tmp_path / "registry"
    reg.mkdir()
    save_schema(
        str(reg),
        "patients",
        StructType([StructField(c, StringType()) for c in PATIENT_COLS]),
    )
    save_schema(
        str(reg),
        "payers",
        StructType([StructField(c, StringType()) for c in ("id", "name", "ownership")]),
    )
    save_schema(
        str(reg),
        "encounters",
        StructType([StructField(c, StringType()) for c in ("id", "patient")]),
    )
    save_schema(
        str(reg),
        "conditions",
        StructType([StructField(c, StringType()) for c in ("patient", "code")]),
    )
    return reg


def _landing(tmp_path, date):
    base = tmp_path / "landing" / date
    (base / "patients").mkdir(parents=True)
    (base / "payers").mkdir()
    (base / "encounters").mkdir()
    (base / "conditions").mkdir()
    # dirt: quoted comma in address, trailing spaces, a ragged short row
    # (padded), an unnamed trailing column (dropped)
    (base / "patients" / "p.csv").write_text(
        "id,birthdate,first,last,marital,race,ethnicity,gender,address,city,state,zip,\n"
        'p1,1980-01-01,Ann ,Smith,M,white,nonhispanic,F,"1 Elm St, Apt 2",Boston,MA,02118,junk\n'
        "p2,1990-05-05,Bob,Jones,S,black,hispanic,M,2 Oak Av,Salem,MA\n"
    )
    (base / "payers" / "p.csv").write_text(
        "id,name,ownership\npay1,Acme Health,PRIVATE\n"
    )
    (base / "encounters" / "e.csv").write_text(
        "id,patient\ne1,p1\ne2,p1\ne3,p2\n"
    )
    (base / "conditions" / "c.csv").write_text("patient,code\np1,x1\n")
    return tmp_path / "landing"


def test_batch_pipeline_end_to_end(spark, tmp_path):
    reg = _registry(tmp_path)
    landing = _landing(tmp_path, "2024-01-01")
    staging = tmp_path / "staging"
    martd = tmp_path / "mart"
    martd.mkdir()

    mart = run_batch_pipeline(
        spark,
        str(landing),
        str(reg),
        str(staging),
        str(martd),
        "2024-01-01",
        ["patients", "payers", "encounters", "conditions"],
    )

    # staging is load_date-partitioned and cleaned
    staged = spark.read.parquet(str(staging / "patients"))
    rows = {r.id: r for r in staged.collect()}
    assert set(rows) == {"p1", "p2"}
    assert rows["p1"].first == "Ann"                      # trimmed
    assert rows["p1"].address == "1 Elm St, Apt 2"        # quoted comma kept
    assert rows["p2"].zip == "None"                       # padded + sentinel
    # partition-column type inference reads the load_date back as DATE
    assert str(rows["p1"].load_date) == "2024-01-01"

    # mart: SCD2 dims + fact with correct counts
    dp = {r.patient_id: r for r in mart["dim_patient"].collect()}
    assert set(dp) == {"p1", "p2"} and all(r.is_active for r in dp.values())
    fact = {r.patient_id: r for r in mart["fact_patient"].collect()}
    assert fact["p1"].total_encounters == 2
    assert fact["p1"].total_conditions == 1
    assert fact["p2"].total_encounters == 1

    # the §2.9 dashboard workload served from the mart via SQL
    mart["dim_patient"].createOrReplaceTempView("dim_patient")
    by_gender = {
        r.gender: r.cnt
        for r in spark.sql(
            "SELECT gender, count(*) AS cnt FROM dim_patient GROUP BY gender"
        ).collect()
    }
    assert by_gender == {"F": 1, "M": 1}



def test_batch_pipeline_second_load_over_existing_mart(spark, tmp_path):
    """A second load date into the same mart: dim versions expire and
    insert, and the fact — whose dim_location input scans the previous
    dim files — is written before that dim is swapped (writing it after
    failed with FAILED_READ_FILE)."""
    reg = _registry(tmp_path)
    landing = _landing(tmp_path, "2024-01-01")
    _landing(tmp_path, "2024-02-01")
    # p2 marries and moves; p3 is new; p1 is unchanged
    (landing / "2024-02-01" / "patients" / "p.csv").write_text(
        "id,birthdate,first,last,marital,race,ethnicity,gender,address,city,state,zip\n"
        'p1,1980-01-01,Ann,Smith,M,white,nonhispanic,F,"1 Elm St, Apt 2",Boston,MA,02118\n'
        "p2,1990-05-05,Bob,Jones,M,black,hispanic,M,9 Pine Rd,Salem,MA,01970\n"
        "p3,2000-03-03,Cy,Lee,S,asian,nonhispanic,M,5 Bay St,Lynn,MA,01901\n"
    )
    martd = tmp_path / "mart"
    martd.mkdir()
    tables = ["patients", "payers", "encounters", "conditions"]
    for date in ("2024-01-01", "2024-02-01"):
        mart = run_batch_pipeline(
            spark, str(landing), str(reg), str(tmp_path / "staging"),
            str(martd), date, tables,
        )

    versions = sorted(
        (r.patient_id, r.marital, r.is_active)
        for r in mart["dim_patient"].collect()
    )
    assert versions == [
        ("p1", "M", True),
        ("p2", "M", True),
        ("p2", "S", False),
        ("p3", "S", True),
    ]
    locations = {(r.address, r.is_active) for r in mart["dim_location"].collect()}
    assert ("9 Pine Rd", True) in locations
    fact = {r.patient_id: r for r in mart["fact_patient"].collect()}
    assert fact["p1"].total_encounters == 2
    assert fact["p2"].total_encounters == 1


MART_TABLES = ("patients", "encounters", "conditions", "payer_transitions")


def _jobs_in_group(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_registry_clean_submits_no_job(spark):
    """Building the clean chain of the four mart tables against the
    bundled registry runs no probe job: none of them declares a
    ``_part`` column or a phone column. Without a schema every string
    column is probed, which the same instrument sees."""
    from synthea_etl_spark.operators.clean import clean_pipeline
    from synthea_etl_spark.sources.schema_registry import (
        bundled_registry_dir,
        load_schema,
    )

    frames = {}
    for table in MART_TABLES:
        schema = load_schema(bundled_registry_dir(), table)
        names = [f.name.upper() for f in schema.fields] + ["Unnamed_9"]
        row = tuple(f" v{i} or w " for i in range(len(names)))
        frames[table] = (spark.createDataFrame([row], names), schema)

    def build():
        for df, schema in frames.values():
            clean_pipeline(df, schema=schema)

    assert _jobs_in_group(spark, "registry-clean", build) == []
    probe = _jobs_in_group(
        spark, "schemaless-clean", lambda: clean_pipeline(frames["patients"][0])
    )
    assert probe


# py4j round trips to build every registry table's minor+major clean
# from the test landing: about 3,900 with each step's projection as SQL
# text and call-site capture off; about 89,000 with Column objects and
# capture on
CLEAN_BUILD_ROUND_TRIPS = 8_000


def test_clean_build_round_trips(spark, tmp_path, monkeypatch):
    """Building ``clean_pipeline(repair_csv(...))`` for all 18 registry
    tables stays within a fixed number of driver->JVM round trips: the
    projections are SQL text, one string per column, and no call is
    wrapped in call-site capture. The header reads are the only jobs."""
    from py4j.clientserver import ClientServerConnection

    from synthea_etl_spark.operators.clean import clean_pipeline
    from synthea_etl_spark.sources.csv_repair import repair_csv
    from synthea_etl_spark.sources.schema_registry import (
        SYNTHEA_TABLES,
        bundled_registry_dir,
        load_schema,
    )
    from tests.synthea_fixtures import write_landing

    write_landing(str(tmp_path), "2024-01-01")
    calls = [0]
    stock = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls[0] += 1
        return stock(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    for table in SYNTHEA_TABLES:
        clean_pipeline(
            repair_csv(spark, str(tmp_path / "2024-01-01" / table)),
            schema=load_schema(bundled_registry_dir(), table),
        )
    monkeypatch.undo()
    assert 0 < calls[0] < CLEAN_BUILD_ROUND_TRIPS


def test_staged_and_mart_frames_match_inferred_schema(spark, tmp_path):
    """The frames ``stage_table`` and ``run_batch_pipeline`` return are
    read with the schema the engine wrote; it must equal what a fresh
    ``spark.read.parquet`` infers, ``load_date`` included as DATE."""
    from pyspark.sql.types import DateType

    from synthea_etl_spark.pipeline import stage_table
    from synthea_etl_spark.sources.schema_registry import bundled_registry_dir

    landing = _landing(tmp_path, "2024-01-01")
    typed = stage_table(
        spark,
        str(landing / "2024-01-01" / "patients"),
        "patients",
        bundled_registry_dir(),
        str(tmp_path / "typed"),
        "2024-01-01",
    )
    inferred = spark.read.parquet(str(tmp_path / "typed" / "patients"))
    assert typed.schema == inferred.schema
    assert inferred.schema["load_date"].dataType == DateType()
    assert inferred.schema["zip"].dataType.simpleString() == "int"
    assert sorted(map(tuple, typed.collect())) == sorted(map(tuple, inferred.collect()))

    martd = tmp_path / "mart"
    martd.mkdir()
    staging = tmp_path / "staging"
    mart = run_batch_pipeline(
        spark, str(landing), str(_registry(tmp_path)), str(staging), str(martd),
        "2024-01-01", ["patients", "payers", "encounters", "conditions"],
    )
    assert sorted(mart) == ["dim_location", "dim_patient", "dim_payer", "fact_patient"]
    for name, df in mart.items():
        assert df.schema == spark.read.parquet(str(martd / name)).schema, name


def test_streaming_scd2_refresh_two_snapshots(spark, tmp_path):
    snaps, dim, ckpt = (str(tmp_path / d) for d in ("snaps", "dim", "ckpt"))
    schema = "k string, name string"

    def arrive(rows, sub):
        spark.createDataFrame(rows, schema).write.parquet(f"{snaps}/{sub}")
        q = scd2_refresh_stream(
            spark,
            snaps,
            dim,
            ckpt,
            StructType(
                [StructField("k", StringType()), StructField("name", StringType())]
            ),
            keys=["k"],
            attrs=["name"],
        )
        q.awaitTermination()

    arrive([("a", "v1"), ("b", "v1")], "s1")
    state1 = {(r.k, r.name, r.is_active) for r in spark.read.parquet(dim).collect()}
    assert state1 == {("a", "v1", True), ("b", "v1", True)}

    arrive([("a", "v2"), ("b", "v1")], "s2")
    rows = spark.read.parquet(dim).collect()
    a = sorted(
        [(r.name, r.is_active) for r in rows if r.k == "a"]
    )
    assert a == [("v1", False), ("v2", True)]
    b = [(r.name, r.is_active) for r in rows if r.k == "b"]
    assert b == [("v1", True)]


def test_streaming_scd2_crash_recovery_exactly_once(spark, tmp_path, monkeypatch):
    """Failure injection for the foreachBatch SCD2 stream: kill the
    query in the WORST window — after the sink write succeeded but
    before the checkpoint commit — then restart from the checkpoint.
    Spark re-runs the uncommitted batch against the already-merged
    dimension; the merge's hash-equality idempotence plus the
    deterministic per-batch version timestamp must make the re-run a
    no-op, so the observable dim state is exactly-once. A second
    injection crashes BEFORE the write (batch fully lost) and the
    restart must replay it from the offset log. This is the recovery
    property scd2_refresh_stream's docstring promises; the other
    streaming tests only ever observe clean runs."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from synthea_etl_spark import pipeline as pipeline_mod

    snaps, dim, ckpt = (str(tmp_path / d) for d in ("snaps", "dim", "ckpt"))
    schema = StructType(
        [StructField("k", StringType()), StructField("name", StringType())]
    )

    def start():
        return scd2_refresh_stream(
            spark, snaps, dim, ckpt, schema, keys=["k"], attrs=["name"]
        )

    def dim_state():
        return sorted(
            (r.k, r.name, r.is_active)
            for r in spark.read.parquet(dim).collect()
        )

    real_write_swap = pipeline_mod.write_swap

    # batch 0: clean run
    spark.createDataFrame([("a", "v1"), ("b", "v1")], "k string, name string") \
        .write.parquet(f"{snaps}/s1")
    start().awaitTermination()
    assert dim_state() == [("a", "v1", True), ("b", "v1", True)]

    # batch 1: crash AFTER the sink write, BEFORE checkpoint commit
    def write_then_crash(df, path, fmt="parquet"):
        real_write_swap(df, path, fmt)
        raise RuntimeError("injected crash after sink write")

    monkeypatch.setattr(pipeline_mod, "write_swap", write_then_crash)
    spark.createDataFrame([("a", "v2"), ("c", "v1")], "k string, name string") \
        .write.parquet(f"{snaps}/s2")
    with pytest.raises(StreamingQueryException):
        start().awaitTermination()
    # the write DID land before the crash: dim already holds batch 1
    assert ("a", "v2", True) in dim_state()

    # restart clean: the uncommitted batch re-runs against the merged
    # dim; idempotence => no duplicate versions, no flipped flags
    monkeypatch.setattr(pipeline_mod, "write_swap", real_write_swap)
    start().awaitTermination()
    expected_after_b1 = [
        ("a", "v1", False),
        ("a", "v2", True),
        ("b", "v1", True),
        ("c", "v1", True),
    ]
    assert dim_state() == expected_after_b1

    # batch 2: crash BEFORE any write — the batch is fully lost and
    # must be replayed from the checkpoint's offset log on restart
    def crash_before_write(df, path, fmt="parquet"):
        raise RuntimeError("injected crash before sink write")

    monkeypatch.setattr(pipeline_mod, "write_swap", crash_before_write)
    spark.createDataFrame([("b", "v2")], "k string, name string") \
        .write.parquet(f"{snaps}/s3")
    with pytest.raises(StreamingQueryException):
        start().awaitTermination()
    assert dim_state() == expected_after_b1  # nothing leaked

    monkeypatch.setattr(pipeline_mod, "write_swap", real_write_swap)
    start().awaitTermination()
    assert dim_state() == [
        ("a", "v1", False),
        ("a", "v2", True),
        ("b", "v1", False),
        ("b", "v2", True),
        ("c", "v1", True),
    ]
