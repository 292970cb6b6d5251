"""Azure/GCP bulk sources: schema + normalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from corkscrew_spark.ingest import cloud_sources
from corkscrew_spark.schema import RESOURCE_SCHEMA


def test_azure_bulk_source(spark):
    df = cloud_sources.azure_resource_graph(spark, ["sub-1", "sub-2"])
    assert df.schema == RESOURCE_SCHEMA
    rows = df.collect()
    assert len(rows) >= 2 * 4 * 8
    assert {r.provider for r in rows} == {"azure"}
    assert {r.account_id for r in rows} == {"sub-1", "sub-2"}
    assert all(r.id.startswith("/subscriptions/") for r in rows)


def test_gcp_bulk_source(spark):
    df = cloud_sources.gcp_asset_inventory(spark, ["proj-a"])
    assert df.schema == RESOURCE_SCHEMA
    assert df.filter(F.col("provider") != "gcp").count() == 0
    assert df.count() >= 3 * 8


def test_cross_provider_union(spark):
    """The unified all-cloud view (unified_schema.go:432-462): sources
    from three providers union by name into one resources frame."""
    from corkscrew_spark.ingest import aws_scanner

    aws = aws_scanner.scan(spark, ["s3"], ["us-east-1"])
    az = cloud_sources.azure_resource_graph(spark, ["sub-1"])
    gcp = cloud_sources.gcp_asset_inventory(spark, ["proj-a"])
    allc = aws.unionByName(az).unionByName(gcp)
    counts = {r["provider"]: r["n"] for r in
              allc.groupBy("provider").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"aws", "azure", "gcp"} and all(v > 0 for v in counts.values())


def test_azure_kql_result_cache(monkeypatch):
    """Re-querying the same (subscription, kql) scope within the TTL is a
    cache hit — zero API generator invocations — while the new scan's
    scanned_at stamp still applies (resource_graph.go:556-599)."""
    import datetime as dt

    from corkscrew_spark.ingest import cloud_sources

    cloud_sources._KQL_CACHE.clear()
    calls = {"n": 0}
    orig = cloud_sources._azure_rows

    def counting(sub, scanned_at):
        calls["n"] += 1
        return orig(sub, scanned_at)

    monkeypatch.setattr(cloud_sources, "_azure_rows", counting)
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    rows1 = list(cloud_sources._resource_graph_rows("sub-a", "Resources", t1, True))
    assert calls["n"] == 1 and rows1
    rows2 = list(cloud_sources._resource_graph_rows("sub-a", "Resources", t2, True))
    assert calls["n"] == 1, "second query must be served from the cache"
    assert {r.id for r in rows1} == {r.id for r in rows2}
    assert {r.scanned_at for r in rows2} == {t2}
    # a different kql scope misses
    list(cloud_sources._resource_graph_rows("sub-a", "Resources | project id", t2, True))
    assert calls["n"] == 2
    # cache off → refetch
    list(cloud_sources._resource_graph_rows("sub-a", "Resources", t2, False))
    assert calls["n"] == 3


class TestFetchFnInjection:
    """The real-SDK seam: picklable fetch closures run on executors and
    their rows land schema-conformant with the scan stamp applied."""

    def test_azure_injected_rows(self, spark):
        import datetime as dt

        from corkscrew_spark.ingest import cloud_sources
        from corkscrew_spark.schema import RESOURCE_SCHEMA

        def fetch(sub, kql):
            return [{"id": f"{sub}/vm-1", "name": "vm-1",
                     "type": "Microsoft.Compute/virtualMachines",
                     "service": "compute", "provider": "azure",
                     "region": "westeurope", "account_id": sub,
                     "state": "Succeeded"}]

        t = dt.datetime(2024, 3, 1)
        df = cloud_sources.azure_resource_graph(
            spark, ["sub-x", "sub-y"], scanned_at=t, fetch_fn=fetch)
        assert df.schema == RESOURCE_SCHEMA
        rows = {r.id: r for r in df.collect()}
        assert set(rows) == {"sub-x/vm-1", "sub-y/vm-1"}
        r = rows["sub-x/vm-1"]
        assert r.provider == "azure" and r.scanned_at == t
        assert r.arn is None  # unsupplied fields default to NULL

    def test_gcp_injected_rows(self, spark):
        import datetime as dt

        from corkscrew_spark.ingest import cloud_sources
        from corkscrew_spark.schema import RESOURCE_SCHEMA

        def fetch(project):
            yield {"id": f"//compute/projects/{project}/instances/i1",
                   "name": "i1",
                   "type": "compute.googleapis.com/Instance",
                   "service": "compute", "provider": "gcp",
                   "region": "us-central1", "account_id": project,
                   "state": "RUNNING"}

        t = dt.datetime(2024, 3, 1)
        df = cloud_sources.gcp_asset_inventory(spark, ["p1"],
                                               scanned_at=t, fetch_fn=fetch)
        assert df.schema == RESOURCE_SCHEMA
        rows = df.collect()
        assert len(rows) == 1 and rows[0].name == "i1"
        assert rows[0].scanned_at == t


class TestCloudSourceFaultModes:
    """Shared fault policy (ingest/faults.py) on the Azure/GCP seams:
    throttling retries, everything else records one error row."""

    def test_azure_throttle_retries_then_succeeds(self, spark):
        from corkscrew_spark.ingest import cloud_sources

        def make_fetch():
            calls = {}

            def fetch(sub, kql):
                n = calls.get(sub, 0)
                calls[sub] = n + 1
                if n < 2:
                    class Throttled(Exception):
                        status_code = 429
                    raise Throttled("ARG quota exceeded")
                return [{"id": f"/subscriptions/{sub}/r1", "name": "r1",
                         "type": "microsoft.compute/virtualmachines",
                         "service": "compute", "provider": "azure",
                         "region": "westeurope", "account_id": sub}]

            return fetch

        raw = cloud_sources.azure_resource_graph_with_errors(
            spark, ["sub-1"], fetch_fn=make_fetch(),
            retry_base_s=0.01).collect()
        assert [r.error_code for r in raw] == [None]
        assert raw[0].name == "r1"

    def test_azure_exhausted_throttle_records_error(self, spark):
        from corkscrew_spark.ingest import cloud_sources

        def fetch(sub, kql):
            class Throttled(Exception):
                status_code = 429
            raise Throttled("always throttled")

        raw = cloud_sources.azure_resource_graph_with_errors(
            spark, ["sub-1"], fetch_fn=fetch, max_retries=1,
            retry_base_s=0.01).collect()
        assert len(raw) == 1
        assert raw[0].error_code == "TooManyRequests"
        assert raw[0].provider == "azure" and raw[0].account_id == "sub-1"

    def test_gcp_permission_denied_records_and_continues(self, spark):
        from corkscrew_spark.ingest import cloud_sources

        def fetch(project):
            if project == "locked":
                class PermissionDenied(Exception):
                    pass
                raise PermissionDenied("caller lacks cloudasset.assets.list")
            return [{"id": f"//compute/projects/{project}/instances/a",
                     "name": "a", "type": "compute.googleapis.com/Instance",
                     "service": "compute", "provider": "gcp",
                     "account_id": project}]

        raw = cloud_sources.gcp_asset_inventory_with_errors(
            spark, ["open", "locked"], fetch_fn=fetch).collect()
        errs = [r for r in raw if r.error_code is not None]
        good = [r for r in raw if r.error_code is None]
        assert len(errs) == 1 and errs[0].error_code == "PermissionDenied"
        assert errs[0].account_id == "locked"
        assert [r.name for r in good] == ["a"]
        # plain surface drops the failed cell, keeps the healthy one
        names = [r.name for r in cloud_sources.gcp_asset_inventory(
            spark, ["open", "locked"], fetch_fn=fetch).collect()]
        assert names == ["a"]
