"""Scale-killer plan audit over the MUTATION / constraint-validation /
identity paths (tools/audit_plans.py sweeps only registry SELECTs — the
r7 identity-column global window shipped precisely because write-side
plans were never audited).

SnappySession._audit_plan records (tag, executedPlan) for every frame the
write paths are about to execute when `_plan_audit_log` is a list; this
module drives insert / put / update / delete / delete_from / UNIQUE / FK
/ identity traffic on a fixture store and runs tools.audit_plans.audit_text
over every captured plan."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from audit_plans import audit_text  # noqa: E402

from pyspark.sql import Window, functions as F  # noqa: E402

# r13: excluded from the default (driver) test lane — see pytest.ini
pytestmark = pytest.mark.slow


def _flags(log):
    out = {}
    for tag, plan in log:
        f = audit_text(plan)
        if f:
            out.setdefault(tag, set()).update(f)
    return out


@pytest.fixture()
def audited(snappy):
    snappy._plan_audit_log = []
    yield snappy
    snappy._plan_audit_log = None


def test_pre_r8_identity_shape_is_flagged(spark):
    """The checker itself must catch the exact shape the r8 fix removed:
    row_number over Window.orderBy(monotonically_increasing_id()) with no
    PARTITION BY — a single-task global sort of the whole insert batch."""
    df = spark.range(100).withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.monotonically_increasing_id())),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "window_unpartitioned" in audit_text(plan)


def test_identity_insert_plans_clean_multi_partition(audited):
    """A multi-partition identity insert: no unpartitioned Window in any
    captured write/validation plan, values unique and on the
    START/INCREMENT sequence (the VERDICT r7 'done' bar)."""
    sn = audited
    sn.sql(
        "CREATE TABLE idt (id BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START WITH 10, INCREMENT BY 5), v INT) USING column"
    )
    batch = sn.spark.range(0, 1000, 1, 8).select(
        F.lit(None).cast("long").alias("id"), F.col("id").cast("int").alias("v")
    )
    assert batch.rdd.getNumPartitions() > 1
    sn.insert("idt", batch)
    flags = _flags(sn._plan_audit_log)
    assert not flags, f"scale-killer plans on identity insert: {flags}"
    ids = [r.id for r in sn.table("idt").select("id").collect()]
    assert len(ids) == 1000 and len(set(ids)) == 1000
    assert all((i - 10) % 5 == 0 for i in ids)
    assert min(ids) == 10 and max(ids) == 10 + 5 * 999
    sn.sql("DROP TABLE idt")


def test_mutation_and_constraint_plans_clean(audited, sf_dir):
    """insert / put / update / delete / delete_from plus UNIQUE + FK
    validation probes on keyed fixture tables: zero audit flags across
    every captured plan."""
    sn = audited
    sn.sql(
        "CREATE TABLE par (pk INT NOT NULL PRIMARY KEY, label STRING, "
        "UNIQUE (label)) USING row"
    )
    sn.sql(
        "CREATE TABLE chi (ck INT NOT NULL PRIMARY KEY, pref INT, "
        "v DOUBLE, FOREIGN KEY (pref) REFERENCES par (pk)) "
        "USING column OPTIONS (key_columns 'ck')"
    )
    sn.sql("INSERT INTO par VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sn.sql("INSERT INTO chi VALUES (10, 1, 0.5), (11, 2, 1.5), (12, NULL, 9.0)")
    sn.sql("PUT INTO chi VALUES (11, 3, 2.5), (13, 1, 3.5)")
    sn.sql("UPDATE chi SET v = v + 1 WHERE ck > 10")
    sn.sql("DELETE FROM chi WHERE ck = 13")
    sn.delete_from("chi", sn.spark.createDataFrame([(12,)], "ck int"))
    with pytest.raises(ValueError):
        sn.sql("INSERT INTO chi VALUES (20, 99, 0.0)")  # FK violation
    with pytest.raises(ValueError):
        sn.sql("INSERT INTO par VALUES (4, 'a')")  # UNIQUE violation
    assert len(sn._plan_audit_log) > 10, "hook captured no mutation plans"
    flags = _flags(sn._plan_audit_log)
    assert not flags, f"scale-killer plans on mutation paths: {flags}"
    sn.sql("DROP TABLE chi")
    sn.sql("DROP TABLE par")


def test_skip_constraint_checks_property(audited):
    """skip-constraint-checks (configuration_parameters/
    skip-constraint-checks.md): under the flag the UNIQUE/FK/CHECK
    validation scans are absent from the write path (zero probe captures
    in the plan-audit log), violations are admitted (documented
    undefined behavior), keyed INSERTs conflate through PUT-INTO
    keep-last so the PK stays unique, and constraints re-enforce the
    moment the property unsets."""
    sn = audited
    sn.sql(
        "CREATE TABLE skc_par (pk INT NOT NULL PRIMARY KEY, em STRING, "
        "UNIQUE (em)) USING row"
    )
    sn.sql(
        "CREATE TABLE skc_chi (ck INT NOT NULL PRIMARY KEY, pref INT, "
        "v INT CHECK (v >= 0), FOREIGN KEY (pref) REFERENCES skc_par (pk)"
        ") USING row"
    )
    sn.sql("INSERT INTO skc_par VALUES (1, 'a@x'), (2, 'b@x')")
    sn.sql("INSERT INTO skc_chi VALUES (10, 1, 5)")
    sn.sql("SET skip-constraint-checks = true")
    sn._plan_audit_log.clear()
    # UNIQUE + FK + CHECK violations all admitted under the flag
    sn.sql("INSERT INTO skc_par VALUES (3, 'a@x')")      # dup UNIQUE em
    sn.sql("INSERT INTO skc_chi VALUES (11, 99, -7)")    # FK miss + CHECK<0
    probes = [t for t, _ in sn._plan_audit_log
              if t.split(":")[0] in ("unique_batch", "unique_clash",
                                     "unique_full", "fk_probe",
                                     "fk_orphan", "check")]
    assert probes == [], f"validation scans ran under the flag: {probes}"
    assert sn.table("skc_par").filter("em = 'a@x'").count() == 2
    assert sn.table("skc_chi").filter("ck = 11").count() == 1
    # PK preserved via PUT-INTO keep-last (the documented exception):
    # re-inserting pk=1 REPLACES it instead of duplicating
    sn.sql("INSERT INTO skc_par VALUES (1, 'new@x')")
    one = sn.table("skc_par").filter("pk = 1").collect()
    assert len(one) == 1 and one[0].em == "new@x"
    # batch-internal duplicate keys keep the LAST occurrence
    sn.sql("INSERT INTO skc_par VALUES (7, 'x1'), (7, 'x2')")
    seven = sn.table("skc_par").filter("pk = 7").collect()
    assert len(seven) == 1 and seven[0].em == "x2"
    # unset: enforcement returns immediately
    sn.sql("SET skip-constraint-checks = false")
    with pytest.raises(ValueError, match="UNIQUE"):
        sn.sql("INSERT INTO skc_par VALUES (8, 'b@x')")
    with pytest.raises(ValueError, match="FOREIGN KEY"):
        sn.sql("INSERT INTO skc_chi VALUES (12, 55, 1)")
    with pytest.raises(ValueError, match="CHECK"):
        sn.sql("INSERT INTO skc_chi VALUES (13, 1, -1)")
    sn.sql("DROP TABLE skc_chi")
    sn.sql("DROP TABLE skc_par")


def test_skip_constraint_checks_with_identity(audited):
    """Keyed INSERT under skip-constraint-checks routes through PUT
    BEFORE identity assignment — a pre-assigned GENERATED ALWAYS value
    would otherwise trip put()'s own user-supplied-value rejection."""
    sn = audited
    sn.sql(
        "CREATE TABLE ski2 (pk INT NOT NULL PRIMARY KEY, "
        "id BIGINT GENERATED ALWAYS AS IDENTITY, v INT) USING row"
    )
    sn.sql("INSERT INTO ski2 VALUES (1, DEFAULT, 10)")
    sn.sql("SET skip-constraint-checks = true")
    sn.sql("INSERT INTO ski2 VALUES (2, DEFAULT, 20)")
    sn.sql("INSERT INTO ski2 VALUES (2, DEFAULT, 99)")  # keep-last replace
    rows = {r.pk: r for r in sn.table("ski2").collect()}
    assert len(rows) == 2 and rows[2].v == 99
    ids = [r.id for r in rows.values()]
    assert len(set(ids)) == 2 and all(i is not None for i in ids)
    sn.sql("SET skip-constraint-checks = false")
    sn.sql("DROP TABLE ski2")


def test_identity_counting_is_one_job_per_column(audited):
    """r8 verdict 'wrong #1': the ALWAYS-gate probe
    (limit(1).count()) and the per-partition prefix-sum counts used to
    run as two separate Spark jobs per identity column.  Folded into one
    groupBy(spark_partition_id()) aggregation, a single-identity-column
    batch must submit exactly ONE job inside _assign_identities (the
    assignment itself stays lazy; the broadcast-offset frame is
    driver-local)."""
    import time

    sn = audited
    sn.sql(
        "CREATE TABLE idjobs (a BIGINT GENERATED BY DEFAULT AS IDENTITY, "
        "v INT) USING column"
    )
    meta = sn.catalog.load_meta("idjobs")
    df = (
        sn.spark.range(2000)
        .repartition(8)
        .selectExpr("CAST(NULL AS BIGINT) AS a", "CAST(id AS INT) AS v")
    )
    sc = sn.spark.sparkContext
    group = "identity-count-jobs-test"
    # AQE materializes every exchange as its own stage-job, which would
    # make the job count measure Spark internals instead of how many
    # ACTIONS _assign_identities runs; with it off, 1 action == 1 job.
    aqe = sn.spark.conf.get("spark.sql.adaptive.enabled")
    sn.spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "count identity counting jobs")
    try:
        out = sn._assign_identities(meta, df)
    finally:
        sc._jsc.clearJobGroup()
        sn.spark.conf.set("spark.sql.adaptive.enabled", aqe)
    tracker = sc.statusTracker()
    deadline = time.time() + 10
    jobs = tracker.getJobIdsForGroup(group)
    while not jobs and time.time() < deadline:
        time.sleep(0.2)
        jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, f"expected 1 counting job, saw {len(jobs)}"
    assert sorted(r.a for r in out.collect()) == list(range(1, 2001))
    sn._release_pins()
    sn.sql("DROP TABLE idjobs")


def test_identity_two_columns_sequences_dense(audited):
    """Two identity columns on one table still produce their own dense
    START/INCREMENT sequences through the single-job counting path."""
    sn = audited
    sn.sql(
        "CREATE TABLE idjobs2 (a BIGINT GENERATED BY DEFAULT AS IDENTITY, "
        "b BIGINT GENERATED BY DEFAULT AS IDENTITY "
        "(START WITH 100, INCREMENT BY 5), v INT) USING column"
    )
    sn.spark.range(500).repartition(8).selectExpr(
        "CAST(NULL AS BIGINT) AS a",
        "CAST(NULL AS BIGINT) AS b",
        "CAST(id AS INT) AS v",
    ).createOrReplaceTempView("idjobs2_src")
    sn.sql("INSERT INTO idjobs2 SELECT * FROM idjobs2_src")
    rows = sn.table("idjobs2").select("a", "b").collect()
    assert sorted(r.a for r in rows) == list(range(1, 501))
    assert sorted(r.b for r in rows) == [100 + 5 * i for i in range(500)]
    sn.sql("DROP TABLE idjobs2")
