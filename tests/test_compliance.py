"""Compliance pack loader + executor tests (cloud-shaped synthetic data)."""

from __future__ import annotations

import pytest

from corkscrew_spark.compliance import ComplianceExecutor, PackLoader
from corkscrew_spark.compliance.pack import PackError
from corkscrew_spark.ingest import synthetic
from corkscrew_spark.testing import scanned_files


@pytest.fixture(scope="module")
def executor(spark):
    res = synthetic.resources(spark, 90)
    res.createOrReplaceTempView("resources")
    return ComplianceExecutor(spark)


def test_loader_discovers_builtin_packs():
    found = PackLoader().discover()
    assert "cfi/ccc-storage" in found and "demo/tpch-orders" in found


def test_pack_param_validation():
    pack = PackLoader().load("demo/tpch-orders")
    assert pack.validate_params(None)["max_order_value"] == 400000.0
    assert pack.validate_params({"max_order_value": "1000"})["max_order_value"] == 1000.0
    with pytest.raises(PackError, match="unknown parameters"):
        pack.validate_params({"nope": 1})


def test_ccc_storage_pack_archetypes(executor):
    """The three S3 archetypes must land exactly as designed: compliant
    PASS everywhere, insecure FAIL everywhere, partial mixed."""
    run = executor.run_pack("cfi/ccc-storage")
    assert not run.errors, run.errors
    rows = run.results.collect()
    assert rows, "controls must produce rows"
    by = {}
    for r in rows:
        by.setdefault(r["control_id"], {}).setdefault(r["status"], 0)
        by[r["control_id"]][r["status"]] += 1
    # every control sees PASS and FAIL rows (archetype design)
    for control, statuses in by.items():
        assert set(statuses) == {"PASS", "FAIL"}, (control, statuses)
    # versioning: compliant+partial pass (2/3), insecure fails (1/3)
    v = by["ccc-storage-01"]
    assert v["PASS"] == 2 * v["FAIL"]
    # trusted-kms: only compliant passes (1/3)
    k = by["ccc-storage-02"]
    assert k["FAIL"] == 2 * k["PASS"]
    # uniform bucket access: only compliant (all four PAB flags) passes
    u = by["ccc-storage-04"]
    assert u["FAIL"] == 2 * u["PASS"]


def test_uniform_bucket_access_details(executor):
    run = executor.run_pack("cfi/ccc-storage")
    ub = {r["status"]: r for r in
          run.results.filter("control_id = 'ccc-storage-04'").collect()}
    assert ub["PASS"]["details"] == "missing="
    # insecure/partial archetypes have no PublicAccessBlock at all
    assert ub["FAIL"]["details"] == (
        "missing=BlockPublicAcls,BlockPublicPolicy,IgnorePublicAcls,RestrictPublicBuckets"
    )
    assert ub["FAIL"]["remediation"] == "Enable all four PublicAccessBlock settings"


def test_untrusted_param_flips_kms_control(executor):
    run = executor.run_pack(
        "cfi/ccc-storage", {"trusted_kms_keys": ["arn:aws:kms:other:999:key/zzz"]}
    )
    kms = run.results.filter("control_id = 'ccc-storage-02'")
    assert kms.filter("status = 'PASS'").count() == 0


def test_dry_run_validates_without_execution(executor):
    run = executor.run_pack("cfi/ccc-storage", dry_run=True)
    assert run.results.count() == 0 and not run.errors


def test_contract_missing_columns_rejected(spark, executor, tmp_path):
    pack_dir = tmp_path / "bad" / "pack"
    (pack_dir / "queries").mkdir(parents=True)
    (pack_dir / "manifest.yaml").write_text(
        "metadata: {namespace: bad/pack, name: bad, version: '1.0'}\n"
        "queries:\n  - {id: broken, file: queries/broken.sql}\n"
    )
    (pack_dir / "queries" / "broken.sql").write_text("SELECT 1 AS not_the_contract")
    exe = ComplianceExecutor(spark, PackLoader([str(tmp_path)]))
    run = exe.run_pack("bad/pack")
    assert run.errors and "missing required columns" in run.errors[0]


def test_dependency_pack_binds_its_own_params(spark, tmp_path):
    """Each pack in the chain binds ITS OWN declared parameters: the
    dependency's defaults apply, a value supplied for the dependency's
    param reaches it (and is not rejected as unknown by the target), and
    names unknown to every pack in the chain still raise."""
    base = tmp_path / "chain" / "base"
    (base / "queries").mkdir(parents=True)
    (base / "manifest.yaml").write_text(
        "metadata: {namespace: chain/base, name: base, version: '1.0'}\n"
        "parameters:\n  - {name: min_id, type: number, default: 1}\n"
        "queries:\n  - {id: base-q, file: queries/base-q.sql}\n"
    )
    (base / "queries" / "base-q.sql").write_text(
        "SELECT 'r' AS resource_id, 'r' AS resource_name, 't' AS resource_type,\n"
        "       'base-q' AS control_id, 'base' AS control_name,\n"
        "       CASE WHEN :min_id <= 1 THEN 'PASS' ELSE 'FAIL' END AS status,\n"
        "       'LOW' AS severity, '{}' AS details\n"
    )
    top = tmp_path / "chain" / "top"
    (top / "queries").mkdir(parents=True)
    (top / "manifest.yaml").write_text(
        "metadata: {namespace: chain/top, name: top, version: '1.0'}\n"
        "dependencies: [chain/base]\n"
        "queries:\n  - {id: top-q, file: queries/top-q.sql}\n"
    )
    (top / "queries" / "top-q.sql").write_text(
        "SELECT 'r' AS resource_id, 'r' AS resource_name, 't' AS resource_type,\n"
        "       'top-q' AS control_id, 'top' AS control_name,\n"
        "       'PASS' AS status, 'LOW' AS severity, '{}' AS details\n"
    )
    exe = ComplianceExecutor(spark, PackLoader([str(tmp_path)]))
    # dependency's default applies — both controls run clean
    run = exe.run_pack("chain/top")
    assert not run.errors
    got = {(r["control_id"], r["status"]) for r in run.results.collect()}
    assert got == {("base-q", "PASS"), ("top-q", "PASS")}
    # supplying the dependency's parameter reaches the dependency
    run2 = exe.run_pack("chain/top", {"min_id": 5})
    assert not run2.errors
    got2 = dict((r["control_id"], r["status"]) for r in run2.results.collect())
    assert got2["base-q"] == "FAIL"
    # a name no pack in the chain declares is still rejected
    with pytest.raises(PackError, match="unknown parameters"):
        exe.run_pack("chain/top", {"nope": 1})


def test_circular_dependency_detected(tmp_path):
    for a, b in (("x", "y"), ("y", "x")):
        d = tmp_path / "loop" / a
        (d / "queries").mkdir(parents=True)
        (d / "manifest.yaml").write_text(
            f"metadata: {{namespace: loop/{a}, name: {a}, version: '1.0'}}\n"
            f"dependencies: [loop/{b}]\nqueries: []\n"
        )
    with pytest.raises(PackError, match="circular"):
        PackLoader([str(tmp_path)]).load_with_dependencies("loop/x")


def test_tag_hygiene_pack(spark):
    """Second shipped pack: map-typed tags column + list params."""
    from corkscrew_spark.compliance import ComplianceExecutor, PackLoader
    from corkscrew_spark.ingest import synthetic

    res = synthetic.resources(spark, n=60)
    res.createOrReplaceTempView("resources")
    exe = ComplianceExecutor(spark, PackLoader([]))
    run = exe.run_pack("cfi/tag-hygiene", {})
    assert not run.errors
    statuses = {r["status"] for r in run.results.collect()}
    assert "PASS" in statuses
    by_control = {r["control_id"] for r in run.results.collect()}
    assert by_control == {"tag-hygiene-01", "tag-hygiene-02"}


def test_control_and_tag_filters(executor):
    """`--control` / `--tag` parity: run a single control by id, or the
    subset carrying a tag (main.go usage: query --control ns/ID,
    --compliance --tag encryption)."""
    one = executor.run_pack("cfi/ccc-storage", controls=["bucket_versioning"])
    assert not one.errors
    assert {r["control_id"] for r in one.results.collect()} == {"ccc-storage-01"}

    tagged = executor.run_pack("cfi/ccc-storage", tags=["encryption"])
    assert {r["control_id"] for r in tagged.results.collect()} == {"ccc-storage-02"}

    multi = executor.run_pack("cfi/ccc-storage",
                              tags=["data-protection"])
    assert {r["control_id"] for r in multi.results.collect()} \
        == {"ccc-storage-01", "ccc-storage-02", "ccc-storage-03"}

    import pytest as _pytest

    from corkscrew_spark.compliance.pack import PackError

    with _pytest.raises(PackError, match="no controls match"):
        executor.run_pack("cfi/ccc-storage", tags=["nonexistent"])


def test_s3_observability_pack(spark):
    """Third shipped pack: logging / lifecycle / public-access-block over
    the JSON raw_data blobs. The three synthetic archetypes must produce
    all three verdicts deterministically."""
    from corkscrew_spark.compliance import ComplianceExecutor, PackLoader
    from corkscrew_spark.ingest import synthetic

    synthetic.resources(spark, n=60).createOrReplaceTempView("resources")
    run = ComplianceExecutor(spark, PackLoader([])).run_pack(
        "cfi/s3-observability", {})
    assert not run.errors
    rows = run.results.collect()
    by_control = {}
    for r in rows:
        by_control.setdefault(r["control_id"], set()).add(r["status"])
    assert set(by_control) == {"s3-obs-01", "s3-obs-02", "s3-obs-03"}
    # compliant archetype passes everything; insecure archetype fails PAB
    assert {"PASS", "WARNING"} <= by_control["s3-obs-01"]
    assert {"PASS", "FAIL"} <= by_control["s3-obs-03"]
    # every S3 resource is covered by every control
    n_s3 = spark.sql("select count(*) n from resources where service='s3'").collect()[0].n
    assert all(
        sum(1 for r in rows if r["control_id"] == c) == n_s3
        for c in by_control
    )


def test_pack_over_warehouse_table_prunes(spark, tmp_path):
    """A pack run with warehouse={name: dir} reads its table through
    data skipping: same contract rows as the in-memory view, and the
    executor's engine holds the registration."""
    from pyspark.sql import functions as F

    from corkscrew_spark import skipping
    from corkscrew_spark.compliance import ComplianceExecutor
    from corkscrew_spark.compliance.fixtures import (
        S3_FIXTURE_VIEW_SQL,
        TRUSTED_KEYS,
        register_s3_fixture,
    )
    from corkscrew_spark.catalog import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    # materialize the fixture view as a warehouse DIR with stats
    path = str(tmp_path / "aws_resources")
    spark.sql(S3_FIXTURE_VIEW_SQL).repartitionByRange(
        4, "id").write.parquet(path)
    skipping.compute_stats(spark, path, ["type"], bloom_cols=["id"])
    ex = ComplianceExecutor(spark, warehouse={"aws_resources": path})
    assert "aws_resources" in ex.engine._warehouse
    run = ex.run_pack("cfi/ccc/ccc-storage",
                      {"trusted_kms_keys": TRUSTED_KEYS})
    assert not run.errors
    got = {(r["control_id"], r["status"])
           for r in run.results.groupBy("control_id", "status")
           .count().collect()}
    # reference behavior: the plain-view run produces the same set
    register_s3_fixture(spark)
    ref = ComplianceExecutor(spark).run_pack(
        "cfi/ccc/ccc-storage", {"trusted_kms_keys": TRUSTED_KEYS})
    want = {(r["control_id"], r["status"])
            for r in ref.results.groupBy("control_id", "status")
            .count().collect()}
    assert got == want


def test_real_pack_cte_sql_prunes_through_engine(spark, tmp_path):
    """The SHIPPED uniform_bucket_access.sql is a WITH query whose CTE
    body filters `resources WHERE service = 's3'` — with resources
    registered as a service-clustered warehouse dir, the engine prunes
    inside the CTE body (round-7 statement_segments path). Reference
    parity: DuckDB prunes this pack's row groups implicitly; the
    executed plan's own file list is the certificate."""
    import os as _os

    import corkscrew_spark
    from corkscrew_spark import skipping
    from corkscrew_spark.engine import QueryEngine

    sql = open(_os.path.join(
        _os.path.dirname(corkscrew_spark.__file__),
        "compliance/packs/cfi/ccc-storage/queries/"
        "uniform_bucket_access.sql")).read()
    df = spark.range(400).selectExpr(
        "CAST(id AS STRING) AS id", "concat('r', id) AS name",
        "'AWS::S3::Bucket' AS type", "'us-east-1' AS region",
        "element_at(array('ec2','iam','rds','s3'), "
        "CAST(id % 4 + 1 AS INT)) AS service",
        "'{}' AS raw_data")
    path = str(tmp_path / "resources")
    df.repartitionByRange(4, "service").write.parquet(path)
    skipping.compute_stats(spark, path, ["service"])
    eng = QueryEngine(spark)  # helpers on: the pack uses the macros
    eng.register_warehouse("resources", path)
    res = eng.execute(sql)
    total = len(skipping._list_data_files(path))
    opened = [f for f in scanned_files(res.df) if "/resources/" in f]
    assert 0 < len(opened) < total, (len(opened), total)
    assert res.df.count() == 100  # exactly the s3 rows
