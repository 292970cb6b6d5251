"""Azure Resource Graph and GCP Asset Inventory sources.

S9 (plugins/azure-provider/resource_graph.go:70-79, 298-340): Azure's
Resource Graph answers one tenant-wide KQL query with skip-token paging —
a BULK source, not per-service fan-out. Spark shape: one task per
subscription batch lands the result as RESOURCE_SCHEMA rows; the KQL
itself is server-side pushdown (the §2.8 operators run locally over the
landed table and are covered by the kql_* queries).

S10 (plugins/gcp-provider/asset_inventory.go:66-135): GCP Cloud Asset
Inventory bulk-lists assets across project/folder/org scopes.

Like the AWS/K8s scanners, the real clients are opt-in; deterministic
fake pages exercise the paging, normalization, and schema conformance
offline.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row, SparkSession

from corkscrew_spark.ingest.operation_cache import OperationCache
from corkscrew_spark.schema import RESOURCE_SCHEMA

_AZ_TYPES = (
    ("microsoft.storage/storageaccounts", "storage"),
    ("microsoft.compute/virtualmachines", "compute"),
    ("microsoft.network/virtualnetworks", "network"),
    ("microsoft.keyvault/vaults", "keyvault"),
)
_GCP_TYPES = (
    ("storage.googleapis.com/Bucket", "storage"),
    ("compute.googleapis.com/Instance", "compute"),
    ("bigquery.googleapis.com/Dataset", "bigquery"),
)


def _fleet(seed: str, lo: int = 8, hi: int = 20) -> int:
    h = int(hashlib.sha256(seed.encode()).hexdigest(), 16)
    return lo + h % (hi - lo)


def _azure_rows(sub: str, scanned_at: dt.datetime) -> Iterator[Row]:
    for az_type, service in _AZ_TYPES:
        short = az_type.rsplit("/", 1)[-1]
        for i in range(_fleet(f"{sub}|{az_type}")):
            name = f"{short}-{i:03d}"
            rid = (f"/subscriptions/{sub}/resourceGroups/rg-{i % 3}"
                   f"/providers/{az_type}/{name}")
            yield Row(
                id=rid, arn=None, name=name, type=az_type, service=service,
                provider="azure", region=("eastus", "westeurope")[i % 2],
                account_id=sub, parent_id=f"rg-{i % 3}",
                tags={"env": ("prod", "dev")[i % 2]},
                attributes=json.dumps({"sku": ("Standard", "Premium")[i % 3 == 0]}),
                raw_data=json.dumps({"id": rid, "properties": {"provisioningState": "Succeeded"}},
                                    sort_keys=True),
                state="Succeeded", created_at=None, modified_at=None,
                scanned_at=scanned_at,
            )


#: per-worker KQL result cache (resource_graph.go:556-599 QueryCache):
#: repeated Resource Graph queries for the same (subscription, kql) scope
#: within the TTL are served without re-hitting the API.
_KQL_CACHE = OperationCache(max_size_mb=64, ttl_seconds=300.0)


def azure_resource_graph_with_errors(
        spark: SparkSession, subscriptions: list[str],
        scanned_at: dt.datetime | None = None,
        kql: str = "Resources", use_cache: bool = True,
        fetch_fn=None, max_retries: int = 3,
        retry_base_s: float = 0.2) -> DataFrame:
    """``azure_resource_graph`` including the error side-channel
    (aws_scanner.SCAN_RESULT_SCHEMA): a failed subscription query —
    after the shared throttle-retry policy (ingest/faults.py; ARG's 429
    quota responses are the classic case, resource_graph.go retry
    handling) — appears as ONE error row instead of a dead task."""
    from corkscrew_spark.ingest.aws_scanner import (
        SCAN_RESULT_SCHEMA,
        _error_row,
    )
    from corkscrew_spark.ingest.faults import call_with_retry

    scanned_at = scanned_at or dt.datetime.now(dt.timezone.utc)
    work = spark.createDataFrame(
        [Row(sub=s) for s in subscriptions]).repartition(
        min(len(subscriptions), spark.sparkContext.defaultParallelism)
    )

    def cell(sub: str) -> Iterator[Row]:
        rows, err = call_with_retry(
            lambda: list(_resource_graph_rows(sub, kql, scanned_at,
                                              use_cache, fetch_fn)),
            max_retries, retry_base_s)
        if err is not None:
            yield _error_row("resource-graph", sub, scanned_at, *err,
                             provider="azure", account_id=sub)
            return
        yield from rows  # already SCAN_RESULT-shaped (_injected_row)

    return spark.createDataFrame(
        work.rdd.mapPartitions(
            lambda it: (r for w in it for r in cell(w.sub))),
        SCAN_RESULT_SCHEMA,
    )


def azure_resource_graph(spark: SparkSession, subscriptions: list[str],
                         scanned_at: dt.datetime | None = None,
                         kql: str = "Resources",
                         use_cache: bool = True,
                         fetch_fn=None) -> DataFrame:
    """Tenant-wide bulk query: one executor task per subscription, each
    landing its skip-token-paged result (resource_graph.go:298-340 — the
    fake collapses paging into the generator; AWS/K8s scanners exercise
    the explicit token loop). Results are cached per (subscription, kql)
    with a TTL, mirroring the provider's QueryCache.

    ``fetch_fn`` is the real-SDK seam (azure.mgmt.resourcegraph or a
    recorded-fixture stub): a picklable ``(subscription, kql) ->
    list[dict]`` built on each executor, rows shaped like
    RESOURCE_SCHEMA minus scanned_at (the scan re-stamps it). Injected
    fetches bypass the cache — no key reliably distinguishes two
    closures (same rule as aws_scanner.client_factory)."""
    from pyspark.sql import functions as F

    return (
        azure_resource_graph_with_errors(
            spark, subscriptions, scanned_at, kql, use_cache, fetch_fn)
        .filter(F.col("error_code").isNull())
        .drop("error_code", "error_message")
    )


def _injected_row(d: dict, scanned_at: dt.datetime) -> Row:
    """Schema-align one injected dict: unsupplied fields default to
    NULL; unknown keys raise a clear error instead of an executor-side
    field-count mismatch deep in createDataFrame. Rows carry the
    SCAN_RESULT error columns (NULL on this happy path) so the hot loop
    builds each row exactly once."""
    field_names = [f.name for f in RESOURCE_SCHEMA.fields]
    unknown = [k for k in d if k not in field_names]
    if unknown:
        raise ValueError(
            f"fetch_fn row has keys not in RESOURCE_SCHEMA: {unknown}")
    return Row(**{**dict.fromkeys(field_names), **d,
                  "scanned_at": scanned_at,
                  "error_code": None, "error_message": None})


def _resource_graph_rows(sub: str, kql: str, scanned_at: dt.datetime,
                         use_cache: bool, fetch_fn=None) -> Iterator[Row]:
    """One subscription's Resource Graph result, served from the
    per-worker QueryCache within the TTL. The cached value is the API
    payload (rows sans scan stamp); every scan re-stamps scanned_at."""
    def fetch():
        if fetch_fn is not None:
            return [dict(d) for d in fetch_fn(sub, kql)]
        return [r.asDict() for r in _azure_rows(sub, scanned_at)]

    if use_cache and fetch_fn is None:
        cached = _KQL_CACHE.get_or_fetch(
            "azure", "resource_graph", {"sub": sub, "kql": kql}, fetch
        )
    else:
        cached = fetch()
    for d in cached:
        yield _injected_row(d, scanned_at)


def gcp_asset_inventory_with_errors(
        spark: SparkSession, projects: list[str],
        scanned_at: dt.datetime | None = None, fetch_fn=None,
        max_retries: int = 3, retry_base_s: float = 0.2) -> DataFrame:
    """``gcp_asset_inventory`` including the error side-channel: a
    failed project ListAssets (after the shared throttle-retry policy —
    ResourceExhausted/QuotaExceeded retry, PermissionDenied records)
    appears as one error row instead of a dead task."""
    from corkscrew_spark.ingest.aws_scanner import (
        SCAN_RESULT_SCHEMA,
        _error_row,
    )
    from corkscrew_spark.ingest.faults import call_with_retry

    scanned_at = scanned_at or dt.datetime.now(dt.timezone.utc)

    def cell(project: str) -> Iterator[Row]:
        if fetch_fn is None:
            yield from _gcp_fake_rows(project, scanned_at)
            return
        data, err = call_with_retry(
            lambda: [dict(d) for d in fetch_fn(project)],
            max_retries, retry_base_s)
        if err is not None:
            yield _error_row("asset-inventory", project, scanned_at, *err,
                             provider="gcp", account_id=project)
            return
        for d in data:
            yield _injected_row(d, scanned_at)

    work = spark.createDataFrame([Row(p=p) for p in projects]).repartition(
        min(len(projects), spark.sparkContext.defaultParallelism)
    )
    return spark.createDataFrame(
        work.rdd.mapPartitions(lambda it: (r for w in it for r in cell(w.p))),
        SCAN_RESULT_SCHEMA,
    )


def gcp_asset_inventory(spark: SparkSession, projects: list[str],
                        scanned_at: dt.datetime | None = None,
                        fetch_fn=None) -> DataFrame:
    """Bulk ListAssets per project scope (asset_inventory.go:66-135).

    ``fetch_fn``: real-SDK seam (google-cloud-asset or a recorded
    fixture) — picklable ``project -> iterable[dict]`` run on each
    executor, rows shaped like RESOURCE_SCHEMA minus scanned_at."""
    from pyspark.sql import functions as F

    return (
        gcp_asset_inventory_with_errors(spark, projects, scanned_at,
                                        fetch_fn)
        .filter(F.col("error_code").isNull())
        .drop("error_code", "error_message")
    )


def _gcp_fake_rows(project: str, scanned_at: dt.datetime) -> Iterator[Row]:
    """Deterministic offline asset fleet (the no-SDK default)."""
    for asset_type, service in _GCP_TYPES:
        kind = asset_type.rsplit("/", 1)[-1].lower()
        for i in range(_fleet(f"{project}|{asset_type}")):
            name = f"{kind}-{i:03d}"
            rid = f"//{asset_type.split('/')[0]}/projects/{project}/{kind}s/{name}"
            yield Row(
                id=rid, arn=None, name=name, type=asset_type, service=service,
                provider="gcp", region=("us-central1", "europe-west1")[i % 2],
                account_id=project, parent_id=project,
                tags={"team": ("core", "data")[i % 2]},
                attributes=None,
                raw_data=json.dumps({"name": rid, "assetType": asset_type},
                                    sort_keys=True),
                state="ACTIVE", created_at=None, modified_at=None,
                scanned_at=scanned_at,
                error_code=None, error_message=None,
            )
