"""IDMS discovery + smart-scan scoring parity tests
(pkg/idmsdiscovery: idms_discovery.go, region_detector.go,
service_detector.go)."""

from __future__ import annotations

from pyspark.sql import functions as F

from corkscrew_spark.ingest import idms


def test_catalog_matches_reference_counts(spark):
    """idms_discovery.go ships 9 AWS + 9 GCP + 11 Azure + 11 K8s."""
    result = idms.discover_idms_services(spark)
    assert result["by_provider"] == {
        "aws": 9, "gcp": 9, "azure": 11, "kubernetes": 11}
    assert result["total_found"] == 40
    assert result["errors"] == []
    names = {(s["provider"], s["name"]) for s in result["services"]}
    assert ("aws", "kms") in names and ("azure", "keyvault") in names


def test_regional_scope_overrides(spark):
    """directory-service/clouddirectory/keyvault/… carry the regional
    overrides from idms_discovery.go:196-199,245-248,301-304,359-363."""
    by = {(s["provider"], s["name"]): s
          for s in idms.discover_idms_services(spark)["services"]}
    assert by[("aws", "directory-service")]["region"] == "us-east-1"
    assert by[("gcp", "certificateauthority")]["region"] == "us-central1"
    assert by[("azure", "keyvault")]["region"] == "eastus"
    assert by[("kubernetes", "roles")]["region"] == "namespace-scoped"
    assert by[("kubernetes", "rbac")]["region"] == "cluster-wide"
    assert by[("aws", "iam")]["region"] == "global"


def test_provider_filter(spark):
    result = idms.discover_idms_services(spark, providers=["kubernetes"])
    assert result["by_provider"] == {"kubernetes": 11}


def test_service_boost_longest_key_wins(spark):
    """'gcpiam' must match its own 0.3 entry, not stop at 'iam'; a name
    hitting only a security keyword gets 0.15."""
    df = spark.createDataFrame(
        [("gcpiam",), ("cloudaudit",), ("nothing-here",)], ["n"])
    got = {r.n: r.b for r in df.select(
        "n", F.round(idms.service_priority_boost(F.col("n")), 4).alias("b")
    ).collect()}
    assert got["gcpiam"] == 0.3
    assert got["cloudaudit"] == 0.15
    assert got["nothing-here"] == 0.0


def test_server_endpoint(spark):
    """DiscoverIDMSServices envelope over HTTP
    (api_server.go:248-295 parity)."""
    import json as _json
    import threading
    import urllib.request

    from corkscrew_spark.server import ApiServer

    srv = ApiServer(spark).make_http_server()
    port = srv.server_address[1]
    t = threading.Thread(target=srv.handle_request, daemon=True)
    t.start()
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/v1/discover-idms", timeout=30) as resp:
        doc = _json.loads(resp.read())
    t.join(timeout=30)
    srv.server_close()
    assert doc["success"] is True
    assert doc["total_found"] == 40
    assert doc["by_provider"]["azure"] == 11


def test_cli_discover_idms(spark, capsys, monkeypatch):
    from corkscrew_spark import cli

    monkeypatch.setattr("corkscrew_spark.cli.get_spark", lambda **kw: spark)
    assert cli.main(["discover", "--idms"]) == 0
    out = capsys.readouterr().out
    assert "40 IDMS services" in out and "keyvault" in out

    import json as _json
    assert cli.main(["discover", "--idms", "--provider", "gcp",
                     "--output", "json"]) == 0
    doc = _json.loads(capsys.readouterr().out)
    assert doc["by_provider"] == {"gcp": 9}
