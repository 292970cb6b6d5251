"""CLI surface — the reference's verbs over the Spark engine.

    python -m corkscrew_spark.cli query "SELECT ..." [--format table|csv|json]
                                  [--param k=v ...] [--data DIR]
    python -m corkscrew_spark.cli kql "events | where ... | summarize ..."
    python -m corkscrew_spark.cli pack run NAMESPACE [--param k=v ...]
    python -m corkscrew_spark.cli pack list
    python -m corkscrew_spark.cli schemas
    python -m corkscrew_spark.cli scan --synthetic N   (file-based provider)
    python -m corkscrew_spark.cli discover [--provider P] [--output table|json]
    python -m corkscrew_spark.cli list [--provider aws] [--services ...]
                                  [--region ...] [--type T] [--query "..."]
    python -m corkscrew_spark.cli describe --resource-id ARN [--output json|yaml]

Mirrors cmd/corkscrew/main.go's dispatch: query/pack/schemas/scan
(:103-247), discover (:250-316), list (:318-468), describe (:471-585) —
minus the cloud-credentialed providers (the offline fakes serve the same
protocol).
"""

from __future__ import annotations

import argparse
import sys

from corkscrew_spark import formatter
from corkscrew_spark.catalog import register_tables
from corkscrew_spark.engine import QueryEngine, QueryValidationError
from corkscrew_spark.session import get_spark, sf_dir


VERSION = "2.0.0"  # tracks the reference's printed version (main.go:129)


def _parse_params(pairs: list[str] | None) -> dict[str, object]:
    out: dict[str, object] = {}
    for pair in pairs or []:
        if "=" not in pair:
            raise SystemExit(f"--param expects k=v, got: {pair}")
        k, v = pair.split("=", 1)
        out[k] = [s for s in v.split(",")] if "," in v else v
    return out




def _parse_warehouse_specs(specs) -> dict[str, str] | None:
    """--warehouse NAME=DIR values -> {name: dir}; None + stderr on a
    malformed spec (shared by the query/kql/serve verbs)."""
    out: dict[str, str] = {}
    for spec in specs or []:
        name, _, path = spec.partition("=")
        if not path:
            print(f"error: --warehouse expects name=path, got {spec!r}",
                  file=sys.stderr)
            return None
        out[name] = path
    return out


def cmd_query(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="corkscrew-cli")
    spark.sparkContext.setLogLevel("ERROR")
    register_tables(spark, args.data)
    eng = QueryEngine(spark, max_scan_bytes=_scan_budget(args))
    warehouse = _parse_warehouse_specs(args.warehouse)
    if warehouse is None:
        return 2
    for name, path in warehouse.items():
        eng.register_warehouse(name, path)
    if args.file:
        with open(args.file) as f:
            sql = f.read()
    else:
        sql = args.sql if args.sql != "-" else sys.stdin.read()
    if getattr(args, "estimate", False):
        # metadata-only scan preview (no execution, zero data I/O):
        # the admission-control loop's dry-run half
        try:
            est = eng.estimate_statement(sql, _parse_params(args.param))
        except QueryValidationError as ex:  # e.g. a missing :param
            print(f"error: {ex}", file=sys.stderr)
            return 2
        return _print_estimates(est["tables"], est)
    try:
        res = eng.execute(sql, _parse_params(args.param))
    except QueryValidationError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 2
    if getattr(args, "explain", False):
        # the formatted physical plan: scans (PushedFilters/ReadSchema),
        # exchanges, and codegen spans — the scale-debugging surface
        res.df.explain(mode="formatted")
        return 0
    print(formatter.FORMATTERS[args.format](res.df, limit=args.limit))
    print(f"-- {res.duration_s*1000:.0f} ms", file=sys.stderr)
    return 0


def cmd_pack(args: argparse.Namespace) -> int:
    from corkscrew_spark.compliance import ComplianceExecutor, PackLoader

    loader = PackLoader(args.search_path or [])
    if args.pack_cmd == "list":
        for ns in loader.discover():
            print(ns)
        return 0
    if args.pack_cmd == "search":
        from corkscrew_spark.compliance.registry import RegistryClient

        if not args.registry:
            print("error: --registry DIR is required for search", file=sys.stderr)
            return 2
        res = RegistryClient(args.registry).search(
            query=args.namespace or "", provider=args.provider or "",
            framework=args.framework or "")
        for p in res.packs:
            print(f"{p.namespace}\t{p.latest_version}\t{p.provider}\t{p.description[:60]}")
        print(f"-- {res.total} pack(s)", file=sys.stderr)
        return 0
    if args.pack_cmd == "install":
        from corkscrew_spark.compliance.registry import RegistryClient

        if not args.registry or not args.dest:
            print("error: --registry DIR and --dest DIR are required", file=sys.stderr)
            return 2
        client = RegistryClient(args.registry)
        done = client.install(args.namespace, args.dest, version=args.version,
                              force=args.force, dry_run=args.dry_run)
        verb = "would install" if args.dry_run else "installed"
        for ns, ver in done:
            print(f"{verb} {ns}@{ver} -> {args.dest}")
        return 0
    if args.pack_cmd == "installed":
        from corkscrew_spark.compliance.registry import installed_packs

        for row in installed_packs(args.dest or "."):
            print(f"{row['namespace']}\t{row['version']}\t{row['queries']} queries"
                  f"\t{row['dialect']}")
        return 0
    spark = get_spark(app_name="corkscrew-cli")
    spark.sparkContext.setLogLevel("ERROR")
    register_tables(spark, args.data)
    exe = ComplianceExecutor(spark, loader)
    if args.all:
        # run every discovered pack; the shipped packs read the synthetic
        # resource views, so register those fixtures up front
        from corkscrew_spark.compliance.fixtures import register_s3_fixture
        from corkscrew_spark.ingest import synthetic

        register_s3_fixture(spark)
        synthetic.resources(spark, n=300).createOrReplaceTempView("resources")
        supplied = _parse_params(args.param)
        failures = 0
        for ns in loader.discover():
            try:
                chain = loader.load_with_dependencies(ns)
                declared = {p.name for pk in chain for p in pk.parameters}
                required = {p.name for pk in chain for p in pk.parameters
                            if p.required or p.default is None}
                missing = required - set(supplied)
                if missing:
                    print(f"{ns}: skipped (missing parameter(s): "
                          f"{', '.join(sorted(missing))})")
                    continue
                run = exe.run_pack(
                    ns, {k: v for k, v in supplied.items() if k in declared},
                    dry_run=args.dry_run)
            except Exception as ex:  # noqa: BLE001 — keep sweeping
                print(f"{ns}: ERROR {ex}", file=sys.stderr)
                failures += 1
                continue
            if args.dry_run:
                print(f"{ns}: {len(run.pack.queries)} controls validated")
            else:
                print(f"== {ns}")
                print(formatter.format_table(run.summary(), limit=1000))
            failures += 1 if run.errors else 0
            for err in run.errors:
                print(f"{ns}: error: {err}", file=sys.stderr)
        return 1 if failures else 0
    if not args.namespace:
        print("error: namespace required (or --all)", file=sys.stderr)
        return 2
    run = exe.run_pack(args.namespace, _parse_params(args.param),
                       dry_run=args.dry_run, controls=args.control,
                       tags=args.tag)
    if args.dry_run:
        print(f"pack {args.namespace}: {len(run.pack.queries)} controls validated")
    else:
        print(formatter.format_table(run.summary(), limit=1000))
    for err in run.errors:
        print(f"error: {err}", file=sys.stderr)
    return 1 if run.errors else 0


def _parse_preds(specs: list[str] | None) -> list[tuple]:
    """``col,op,value`` triples from repeated --pred flags; values try
    int, then float, then stay strings (dates as ISO strings compare
    correctly against the stored zone-map bounds)."""
    out = []
    for spec in specs or []:
        col, op, *rest = spec.split(",", 2)
        if op in ("is_null", "is_not_null"):
            out.append((col, op, None))
        elif not rest:
            raise SystemExit(f"error: --pred {spec!r} is missing a value")
        elif op == "between":
            lo, hi = rest[0].split(",", 1)
            out.append((col, op, (_parse_scalar(lo), _parse_scalar(hi))))
        elif op == "in":
            out.append((col, op,
                        [_parse_scalar(s) for s in rest[0].split(",")]))
        else:
            out.append((col, op, _parse_scalar(rest[0])))
    return out


def _parse_scalar(raw: str):
    for cast in (int, float):
        try:
            return cast(raw)
        except ValueError:
            pass
    return raw


def cmd_maintenance(args: argparse.Namespace) -> int:
    """Warehouse maintenance verbs over the library operators: small-file
    compaction, versioned-table history/vacuum, Z-order rewrite."""
    from corkscrew_spark import versioned, warehouse

    if args.maint_cmd == "history":
        for e in versioned.history(args.path):
            print(f"v{e['version']}\t{e['op']}\t{e['ts']}\t{e.get('rows', '?')} rows")
        return 0
    if args.maint_cmd == "vacuum":
        removed = versioned.vacuum(args.path, keep_last=args.keep_last)
        print(f"vacuumed versions: {removed or 'none'}")
        return 0
    if args.maint_cmd == "skip-plan":
        from corkscrew_spark import skipping

        preds = _parse_preds(args.pred)
        # --any makes each --pred its own DNF branch: files survive when
        # ANY term may match (the OR-query admission story). Priced by
        # the governor's own admission call, so this prints exactly
        # what a scan budget would be checked against
        branches = [[p] for p in preds] if args.any else [preds]
        try:
            est, (plan,) = skipping.admit(
                [skipping.ScanRead(args.path, args.path, branches)])
        except ValueError as ex:
            print(f"error: {ex}", file=sys.stderr)
            return 2
        if plan["fallback"]:
            print(f"full scan: {plan['fallback']}")
            return 0
        est = est["tables"][args.path.lower()]
        tail = ""
        if est.get("rows_est_matched") is not None:
            tail = f", ~{est['rows_est_matched']:,} est. matches"
        elif est.get("rows_est_upper") is not None:
            tail = f", <={est['rows_est_upper']:,} rows (union bound)"
        print(f"kept {len(plan['kept'])} files "
              f"(stale {len(plan['stale'])}, unknown {len(plan['unknown'])}), "
              f"pruned {len(plan['pruned'])}; "
              f"{est['bytes_kept']:,} of {est['bytes_total']:,} bytes, "
              f"{est['rows_known_kept']:,} known rows" + tail)
        return 0
    spark = get_spark(app_name="corkscrew-maintenance")
    spark.sparkContext.setLogLevel("ERROR")
    if args.maint_cmd == "vstats":
        if not args.cols:
            print("error: --cols a,b is required for vstats",
                  file=sys.stderr)
            return 2
        stats = versioned.compute_stats_version(
            spark, args.path, args.cols.split(","),
            version=args.version)
        v = args.version if args.version is not None else \
            versioned.latest_version(args.path)
        print(f"zone maps for {len(stats['files'])} files "
              f"on {stats['cols']} -> {args.path}/v={v}/data/"
              "_column_stats.json (carried partitions reused from "
              "their owner versions)")
        return 0
    if args.maint_cmd == "stats":
        from corkscrew_spark import skipping

        if args.refresh:
            stats = skipping.refresh_stats(spark, args.path)
        elif args.cols:
            bloom_bits = 8192
            spec = getattr(args, "bloom_bits", None)
            if spec and not args.bloom_cols:
                # without bloom columns the value is unused — and
                # 'auto' would pay a directory walk + count job for it
                print("error: --bloom-bits requires --bloom-cols",
                      file=sys.stderr)
                return 2
            if spec == "auto":
                # size from the table's own per-file key density — the
                # 8192-bit default saturates above ~800 keys per file
                n_files, _b = warehouse.table_file_stats(spark, args.path)
                n_rows = spark.read.parquet(args.path).count()
                bloom_bits = skipping.bloom_bits_for(
                    n_rows // max(1, n_files))
            elif spec:
                try:
                    bloom_bits = int(spec)
                except ValueError:
                    print(f"error: --bloom-bits expects a number or "
                          f"'auto', got {spec!r}", file=sys.stderr)
                    return 2
                if bloom_bits <= 0 or bloom_bits % 8:
                    print("error: --bloom-bits must be a positive "
                          "multiple of 8", file=sys.stderr)
                    return 2
            stats = skipping.compute_stats(
                spark, args.path, args.cols.split(","),
                bloom_cols=(args.bloom_cols.split(",")
                            if args.bloom_cols else None),
                bloom_bits=bloom_bits)
        else:
            print("error: --cols a,b (bootstrap) or --refresh is required",
                  file=sys.stderr)
            return 2
        print(f"zone maps for {len(stats['files'])} files "
              f"on {stats['cols']} -> {args.path}/_column_stats.json")
        return 0
    if args.maint_cmd == "compact":
        parts = args.partition_by.split(",") if args.partition_by else None
        before, after = warehouse.compact_table(
            spark, args.path, partition_cols=parts,
            target_file_bytes=args.target_mb * 1024 * 1024,
            sort_cols=args.sort_by.split(",") if args.sort_by else None,
            stats_cols=args.cols.split(",") if args.cols else None)
        print(f"compacted {args.path}: {before} -> {after} files")
        return 0
    if args.maint_cmd == "zorder":
        if not args.by or "," not in args.by:
            print("error: --by col1,col2[,col3...] is required for zorder",
                  file=sys.stderr)
            return 2
        zcols = args.by.split(",")
        out = args.out or args.path + ".zorder"
        warehouse.zorder_write_nd(
            spark.read.parquet(args.path), out, zcols,
            stats_cols=args.cols.split(",") if args.cols else None)
        print(f"z-ordered {args.path} on ({', '.join(zcols)}) -> {out}")
        return 0
    return 2


def cmd_schemas(args: argparse.Namespace) -> int:
    """Reference parity: cmd/corkscrew/main.go:655-736 (runSchemas) —
    --dialect duckdb|postgres|sqlite DDL rendering, --output json."""
    from corkscrew_spark.schema import CORE_TABLES, schemas_json, table_ddl

    if getattr(args, "output", "sql") == "json":
        import json as _json

        print(_json.dumps(schemas_json(), indent=2))
        return 0
    print("\n-- Resource Schemas")
    print("-- Generated by corkscrew_spark")
    print(f"-- Dialect: {args.dialect}\n")
    for name, schema in CORE_TABLES.items():
        print(f"-- Table: {name}")
        print(table_ddl(name, schema, args.dialect))
        print()
    return 0


def cmd_scan(args: argparse.Namespace) -> int:
    from corkscrew_spark.ingest import synthetic

    spark = get_spark(app_name="corkscrew-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.provider == "aws":
        from corkscrew_spark import config as cfgmod
        from corkscrew_spark.ingest import pipeline
        from corkscrew_spark.ingest.aws_scanner import LIST_OPERATIONS

        if args.services:
            services = args.services.split(",")
        else:
            # No explicit list → the config subsystem decides (reference
            # behavior: scan consults corkscrew.yaml / env overrides),
            # intersected with what the scanner can actually list.
            cfg = cfgmod.load_config()
            try:
                services = [s for s in cfg.services_for_provider("aws")
                            if s in LIST_OPERATIONS]
            except cfgmod.ConfigError:
                services = sorted(LIST_OPERATIONS)
        expectations = None
        if getattr(args, "expectations", None):
            import json as _json

            with open(args.expectations) as fh:
                expectations = _json.load(fh)
        try:
            summary = pipeline.run_scan(
                spark, args.out,
                services=services,
                regions=(args.regions or "us-east-1").split(","),
                use_sdk=args.use_sdk,
                expectations=expectations,
                strict_expectations=getattr(args, "strict_expectations",
                                            False),
            )
        except pipeline.ExpectationsViolated as ex:
            print(f"ERROR: {ex}")
            return 1
        print(f"scan {summary['id']}: {summary['total_resources']} resources "
              f"({summary['new_resources']} new) in {summary['duration_ms']} ms -> {args.out}")
        if summary.get("warnings"):
            print(f"WARNINGS: {summary['warnings']}")
        return 0
    res = synthetic.resources(spark, args.synthetic)
    rel = synthetic.relationships(spark, res)
    ev = synthetic.change_events(spark, res)
    out = args.out
    res.write.mode("overwrite").parquet(f"{out}/resources.parquet")
    rel.write.mode("overwrite").parquet(f"{out}/relationships.parquet")
    ev.write.mode("overwrite").parquet(f"{out}/change_events.parquet")
    print(f"scanned {res.count()} resources, {rel.count()} relationships, "
          f"{ev.count()} change events -> {out}")
    return 0


def _service_inventory(provider: str) -> list[dict[str, object]]:
    """Offline service/resource-type discovery per provider — the
    reflection metadata the scanners scan from (runDiscover,
    cmd/corkscrew/main.go:250-316)."""
    if provider == "aws":
        from corkscrew_spark.ingest.aws_scanner import LIST_OPERATIONS, TYPE_NAMES

        return [
            {"service": s, "display_name": TYPE_NAMES.get(s, ""),
             "resource_types": 1, "list_operation": LIST_OPERATIONS[s][0]}
            for s in sorted(LIST_OPERATIONS)
        ]
    if provider == "kubernetes":
        from corkscrew_spark.ingest.k8s_scanner import KNOWN_GVRS

        return [
            {"service": gvr, "display_name": kind,
             "resource_types": 1, "namespaced": namespaced}
            for gvr, (kind, namespaced) in sorted(KNOWN_GVRS.items())
        ]
    if provider in ("azure", "gcp"):
        from corkscrew_spark.ingest.cloud_sources import _AZ_TYPES, _GCP_TYPES

        types = _AZ_TYPES if provider == "azure" else _GCP_TYPES
        return [
            {"service": service, "display_name": az_type, "resource_types": 1}
            for az_type, service in types
        ]
    raise SystemExit(f"unknown provider: {provider}")


def cmd_discover(args: argparse.Namespace) -> int:
    import json as _json

    if getattr(args, "idms", False):
        from corkscrew_spark.ingest import idms

        spark = get_spark(app_name="corkscrew-cli")
        spark.sparkContext.setLogLevel("ERROR")
        result = idms.discover_idms_services(
            spark, providers=[args.provider] if args.provider else None)
        if args.output == "json":
            print(_json.dumps(result, indent=2))
            return 0
        print(f"{result['total_found']} IDMS services "
              f"across {len(result['by_provider'])} provider(s)")
        for svc in result["services"]:
            print(f"  {svc['provider']:10s} {svc['name']:24s} "
                  f"{svc['region']:18s} {svc['service_type']}")
        return 0
    provider = args.provider or "aws"
    services = _service_inventory(provider)
    if args.output == "json":
        print(_json.dumps({"provider": provider, "services": services}, indent=2))
        return 0
    print(f"provider: {provider} — {len(services)} services")
    for svc in services:
        extras = " ".join(f"{k}={v}" for k, v in svc.items() if k != "service")
        print(f"  {svc['service']:28s} {extras}")
    return 0


_REF_COLUMNS = ["id", "name", "type", "service", "region", "state"]


def cmd_list(args: argparse.Namespace) -> int:
    """List resource refs (runList): scan the requested cells — or route a
    search query through the indexed-search source — and print the cheap
    ref columns; `describe` adds the detail."""
    from pyspark.sql import functions as F

    from corkscrew_spark.ingest import aws_scanner

    spark = get_spark(app_name="corkscrew-cli")
    spark.sparkContext.setLogLevel("ERROR")
    services = args.services.split(",") if args.services else sorted(
        aws_scanner.LIST_OPERATIONS
    )
    regions = args.region.split(",") if args.region else ["us-east-1"]
    if args.query:
        df = aws_scanner.search(spark, args.query, services, regions)
    else:
        df = aws_scanner.scan(spark, services, regions, use_sdk=args.use_sdk)
    if args.type:
        df = df.filter(F.col("type") == args.type)
    df = df.select(*_REF_COLUMNS).orderBy("service", "region", "id").limit(args.limit)
    print(formatter.FORMATTERS[args.format](df, limit=args.limit))
    return 0


def cmd_describe(args: argparse.Namespace) -> int:
    """Describe one resource (runDescribe): locate its (service, region)
    cell — from the ARN when possible, else flags — scan that single
    cell, and enrich the matching ref with per-resource detail."""
    from pyspark.sql import functions as F

    from corkscrew_spark.ingest import aws_scanner

    ref = aws_scanner.parse_arn(args.resource_id)
    service = args.service or ref["service"]
    region = args.region or ref["region"] or "us-east-1"
    if not service:
        print("error: --service is required when the id is not an ARN", file=sys.stderr)
        return 2
    spark = get_spark(app_name="corkscrew-cli")
    spark.sparkContext.setLogLevel("ERROR")
    listed = aws_scanner.scan(spark, [service], [region], use_sdk=args.use_sdk)
    match = listed.filter(
        (F.col("id") == args.resource_id) | (F.col("name") == args.resource_id)
    )
    detailed = aws_scanner.describe_resources(match)
    if detailed.isEmpty():
        print(f"error: resource not found: {args.resource_id}", file=sys.stderr)
        return 1
    if args.output == "json":
        print(formatter.format_json(detailed))
        return 0
    # yaml-ish key: value lines in schema order (reference default output)
    from corkscrew_spark.schema import RESOURCE_SCHEMA

    row = detailed.first().asDict()
    for f in RESOURCE_SCHEMA.fields:
        v = row.get(f.name)
        if v is not None:
            print(f"{f.name}: {v}")
    return 0


def cmd_orchestrator_discover(args: argparse.Namespace) -> int:
    """Multi-source service discovery with merge + attribution — parity
    with cmd/corkscrew/discover.go runOrchestratorDiscovery (:18-110):
    the reference merges plugin, GitHub and API sources through an LRU
    cache; offline, the sources are the built-in scanner catalog, the
    corkscrew.yaml include list, and any --source JSON files
    ({"services": ["name", ...]})."""
    import json as _json

    from corkscrew_spark import config as cfgmod

    merged: dict[str, list[str]] = {}

    def add(source: str, services: list[str]) -> None:
        for svc in services:
            merged.setdefault(svc, []).append(source)

    add("catalog", cfgmod._discover_services(args.provider))
    try:
        add("config", cfgmod.load_config().services_for_provider(args.provider))
    except cfgmod.ConfigError:
        pass
    for path in args.source or []:
        try:
            with open(path) as f:
                doc = _json.load(f)
        except (OSError, ValueError) as ex:
            print(f"warning: skipping source {path}: {ex}", file=sys.stderr)
            continue
        add(path, list(doc.get("services", [])))
    if args.output == "json":
        print(_json.dumps(
            {"provider": args.provider,
             "services": {k: merged[k] for k in sorted(merged)}}, indent=2))
    else:
        print(f"{args.provider}: {len(merged)} services from "
              f"{len({s for v in merged.values() for s in v})} sources")
        for svc in sorted(merged):
            print(f"  {svc:<28} [{', '.join(merged[svc])}]")
    return 0


def cmd_config(args: argparse.Namespace) -> int:
    """config init/show/validate — parity with main.go runConfig
    (:1667-1770)."""
    from corkscrew_spark import config as cfgmod

    try:
        if args.config_cmd == "init":
            p = cfgmod.init_config_file(args.path)
            print(f"Configuration file created: {p}")
        elif args.config_cmd == "show":
            import yaml as _yaml

            cfg = cfgmod.load_config()
            print(_yaml.safe_dump(cfg.to_dict(), sort_keys=False))
            for provider in sorted(cfg.providers):
                services = cfg.services_for_provider(provider)
                print(f"Resolved {provider} services ({len(services)}): "
                      + ", ".join(services))
        elif args.config_cmd == "validate":
            cfg = cfgmod.load_config()
            print("Configuration is valid")
            for provider, prov in sorted(cfg.providers.items()):
                services = cfg.services_for_provider(provider)
                print(f"  {provider}: mode={prov.discovery_mode} "
                      f"services={len(services)} "
                      f"groups={len(prov.service_groups)} "
                      f"workers={prov.analysis.workers}")
    except cfgmod.ConfigError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 2
    return 0


def cmd_info(args: argparse.Namespace) -> int:
    """Provider info — parity with main.go runInfo (:587-650): name,
    version, description, supported services, capabilities."""
    import json as _json

    from corkscrew_spark import config as cfgmod

    descriptions = {
        "aws": "Amazon Web Services (offline fake SDK; boto3 opt-in)",
        "azure": "Microsoft Azure Resource Graph (local KQL engine)",
        "gcp": "Google Cloud Asset Inventory",
        "kubernetes": "Kubernetes API resources (GVR fan-out)",
    }
    if args.provider not in descriptions:
        print(f"error: unknown provider {args.provider}", file=sys.stderr)
        return 2
    services = cfgmod._discover_services(args.provider)
    info = {
        "name": args.provider,
        "version": VERSION,
        "description": descriptions[args.provider],
        "supported_services": services,
        "capabilities": {
            "batch_scan": "true",
            "streaming": "true",
            "change_tracking": "true",
            "compliance_packs": "true",
            "kql": "true" if args.provider == "azure" else "false",
        },
    }
    if args.output == "json":
        print(_json.dumps(info, indent=2))
    else:
        print(f"Provider:    {info['name']}")
        print(f"Version:     {info['version']}")
        print(f"Description: {info['description']}")
        print(f"Services ({len(services)}): " + ", ".join(services))
        print("Capabilities: " + ", ".join(
            k for k, v in info["capabilities"].items() if v == "true"))
    return 0


def cmd_version(_args: argparse.Namespace) -> int:
    print(f"corkscrew-spark {VERSION}")
    return 0


#: provider name -> (module path, optional real-SDK import gate)
_PROVIDER_MODULES = {
    "aws": ("corkscrew_spark.ingest.aws_scanner", "boto3"),
    "azure": ("corkscrew_spark.ingest.cloud_sources", None),
    "gcp": ("corkscrew_spark.ingest.cloud_sources", None),
    "kubernetes": ("corkscrew_spark.ingest.k8s_scanner", "kubernetes"),
}


def cmd_plugin(args: argparse.Namespace) -> int:
    """Provider-module management — parity with cmd/corkscrew/main.go
    runPlugin (:1533-1560, list/build/status). The reference manages
    compiled plugin binaries; here providers are in-process PySpark
    modules, so `list` enumerates them, `status` reports whether the
    real cloud SDK is importable (falling back to the deterministic
    offline fake), and `build` explains there is nothing to compile.
    """
    sub = args.plugin_cmd
    if sub == "build":
        print("providers are in-process PySpark modules; nothing to build")
        return 0
    import importlib
    import importlib.util

    rows = []
    for name, (module, sdk) in _PROVIDER_MODULES.items():
        try:
            importlib.import_module(module)
            loaded = "loaded"
        except Exception as exc:  # pragma: no cover - import errors are fatal bugs
            loaded = f"error: {exc}"
        if sdk is None:
            backend = "in-process"
        elif importlib.util.find_spec(sdk) is not None:
            backend = f"sdk:{sdk}"
        else:
            backend = "offline-fake"
        rows.append((name, module, loaded, backend))
    if sub == "list":
        for name, module, _loaded, _backend in rows:
            print(f"{name}\t{module}")
    else:  # status
        for name, module, loaded, backend in rows:
            print(f"{name}\t{loaded}\t{backend}")
    return 0


def cmd_init(args: argparse.Namespace) -> int:
    """Workspace bootstrap — parity with cmd/corkscrew/init.go runInit
    (:114-230): create the ~/.corkscrew tree, check dependencies, read
    (or seed) the configuration, and report the enabled providers.

    The reference downloads protoc/duckdb and compiles Go plugins; the
    Spark rebuild's runtime dependencies are Python packages, so step 2
    verifies importability instead of downloading, and step 4 resolves
    the provider service lists the scanners will fan out over instead of
    generating plugin code.
    """
    import os as _os
    from pathlib import Path

    from corkscrew_spark import config as cfgmod

    print(f"Initializing corkscrew-spark v{VERSION}...")
    root = Path(_os.environ.get("CORKSCREW_HOME")
                or Path(_os.environ.get("HOME", ".")) / ".corkscrew")
    dirs = [root, root / "config", root / "packs", root / "warehouse"]

    print("Creating directory structure...")
    for d in dirs:
        if args.dry_run:
            print(f"  DRY RUN: would create {d}")
        else:
            d.mkdir(parents=True, exist_ok=True)
    if not args.dry_run:
        print(f"  created {root}")

    print("Checking dependencies...")
    for mod in ("pyspark", "pyarrow", "pandas", "duckdb"):
        try:
            m = __import__(mod)
            print(f"  ok {mod} {getattr(m, '__version__', '?')}")
        except ImportError:
            print(f"  MISSING {mod}")
            return 2

    print("Reading configuration...")
    cfg_path = root / "config.yaml"
    try:
        cfg = cfgmod.load_config()
        print("  loaded existing configuration")
    except cfgmod.ConfigError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 2
    if args.upgrade or cfgmod._config_path() is None:
        if args.dry_run:
            print(f"  DRY RUN: would write default config to {cfg_path}")
        else:
            if cfg_path.exists():  # --upgrade rewrites the seeded default
                cfg_path.unlink()
            cfgmod.init_config_file(cfg_path)
            print(f"  wrote default config to {cfg_path}")
            cfg = cfgmod.load_config()

    print("Resolving provider services...")
    for provider in sorted(cfg.providers):
        services = cfg.services_for_provider(provider)
        print(f"  {provider}: {len(services)} services")

    print("corkscrew-spark initialized successfully!")
    print("Next: python -m corkscrew_spark.cli scan --synthetic 300 "
          f"--out {root / 'warehouse' / 'resources'}")
    return 0


def cmd_kql(args: argparse.Namespace) -> int:
    """Run a raw KQL pipeline over the registered tables — the reference's
    Azure surface accepts these strings verbatim (resource_graph.go:71-118);
    here they compile locally via corkscrew_spark.kql."""
    from corkscrew_spark.kql import KqlError, kql_to_df_skipping

    spark = get_spark(app_name="corkscrew-cli")
    spark.sparkContext.setLogLevel("ERROR")
    tables = register_tables(spark, args.data)
    warehouse = _parse_warehouse_specs(args.warehouse)
    if warehouse is None:
        return 2
    kql = args.kql if args.kql != "-" else sys.stdin.read()
    if getattr(args, "estimate", False):
        from corkscrew_spark.kql import kql_estimate_statement

        try:
            est = kql_estimate_statement(kql, warehouse, tables)
            return _print_estimates(est["tables"], est)
        except KqlError as ex:
            print(f"error: {ex}", file=sys.stderr)
            return 2
    try:
        df = kql_to_df_skipping(spark, kql, warehouse, tables,
                                max_scan_bytes=_scan_budget(args),
                                externaldata_roots=args.externaldata_root)
    except (KqlError, QueryValidationError) as ex:
        # ScanBudgetExceeded is a QueryValidationError — the refusal
        # surfaces exactly like the query verb's (cli.py:937)
        print(f"error: {ex}", file=sys.stderr)
        return 2
    print(formatter.FORMATTERS[args.format](df, limit=args.limit))
    return 0


def _print_estimates(est: dict[str, dict],
                     totals: dict | None = None) -> int:
    """Render a per-table scan-estimate dict (query --estimate and
    kql --estimate share this — the two dry-run surfaces must read
    identically). ``totals`` (estimate_statement's sum) adds the
    TOTAL line the aggregate governor refuses on when the statement
    performs more than one read — without it a preview of two
    branches each under budget reads as 'will run' for a statement
    enforcement refuses (r10 review)."""
    if not est:
        print("no estimable warehouse scan in this query "
              "(unregistered tables, no extractable conjuncts, "
              "or no stats)")
        return 0
    for name, e in sorted(est.items()):
        if e["fallback"] is not None:
            print(f"{name}: full scan ({e['fallback']})")
            continue
        tail = ""
        if e.get("rows_est_matched") is not None:
            tail = f", ~{e['rows_est_matched']:,} est. matches"
        elif e.get("rows_est_upper") is not None:
            tail = f", <={e['rows_est_upper']:,} rows (union bound)"
        print(f"{name}: {e['files_kept']}/{e['files_total']} files, "
              f"{e['bytes_kept']:,}/{e['bytes_total']:,} bytes"
              + tail)
    if totals is not None and totals.get("reads", 0) > 1:
        print(f"TOTAL: {totals['reads']} table reads, "
              f"{totals['bytes_kept']:,} bytes — the scan budget "
              "applies to this statement total as well as to each "
              "read")
    return 0


def _scan_budget(args: argparse.Namespace) -> int | None:
    """--max-scan-mb -> bytes (shared by query/serve verbs). An
    EXPLICIT 0 means a zero-byte budget — refuse every estimable
    warehouse scan — not 'governor off' (fail-open on a typo'd limit
    would be the opposite of what the operator asked for)."""
    budget = getattr(args, "max_scan_mb", None)
    return budget * 1024 * 1024 if budget is not None else None


def cmd_serve(args: argparse.Namespace) -> int:
    from corkscrew_spark import server

    spark = get_spark(app_name="corkscrew-serve")
    spark.sparkContext.setLogLevel("ERROR")
    register_tables(spark, args.data)
    warehouse = _parse_warehouse_specs(args.warehouse)
    if warehouse is None:
        return 2
    # --grpc-port implies --grpc: specifying a port IS asking for the
    # listener
    want_grpc = getattr(args, "grpc", False) or getattr(
        args, "grpc_port", 0) > 0
    grpc_server = None
    if want_grpc:
        from corkscrew_spark import server_grpc

        api = server.ApiServer(spark, warehouse=warehouse,
                                max_scan_bytes=_scan_budget(args))
        try:
            grpc_server, port = server_grpc.make_grpc_server(
                api, host=args.host, port=args.grpc_port)
        except ImportError:
            print("grpcio is not installed — the binary-protobuf "
                  "envelopes remain available at POST /v1/grpc/<Method>")
            api = None
        else:
            if port == 0:  # grpcio's bind-failure sentinel (no raise)
                print(f"ERROR: could not bind gRPC listener on "
                      f"{args.host}:{args.grpc_port}")
                return 1
            grpc_server.start()
            print(f"corkscrew gRPC listening on {args.host}:{port}")
        try:
            server.serve(spark, host=args.host, port=args.port, api=api)
        finally:
            if grpc_server is not None:
                grpc_server.stop(grace=5)
        return 0
    server.serve(spark, host=args.host, port=args.port,
                 api=server.ApiServer(spark, warehouse=warehouse,
                                      max_scan_bytes=_scan_budget(args)))
    return 0


def cmd_diagram(args: argparse.Namespace) -> int:
    from corkscrew_spark import diagrams

    spark = get_spark(app_name="corkscrew-cli")
    spark.sparkContext.setLogLevel("ERROR")
    res = spark.read.parquet(f"{args.data}/resources")
    rel_path = f"{args.data}/relationships"
    import os as _os
    if _os.path.exists(rel_path):
        rel = spark.read.parquet(rel_path)
    else:
        rel = spark.createDataFrame(
            [], "from_id string, to_id string, relationship_type string")
    nodes, edges = diagrams.diagram_data(
        res, rel, service=args.service, region=args.region, limit=args.limit)
    render = diagrams.render_mermaid if args.format == "mermaid" else diagrams.render_ascii
    print(render(nodes, edges))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="corkscrew-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run read-only SQL")
    q.add_argument("sql", nargs="?", default="-")
    q.add_argument("--file", help="read the SQL from a file (main.go --file)")
    q.add_argument("--format", choices=sorted(formatter.FORMATTERS), default="table")
    q.add_argument("--param", action="append")
    q.add_argument("--limit", type=int, default=100)
    q.add_argument("--data", default=sf_dir())
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")
    q.add_argument("--warehouse", action="append", metavar="NAME=DIR",
                   help="register a warehouse table dir as a view; "
                        "simple WHERE conjuncts then read through "
                        "zone-map/bloom data skipping")
    q.add_argument("--max-scan-mb", type=int,
                   help="admission control: refuse the query when its "
                        "metadata-only scan estimate over a --warehouse "
                        "table exceeds this many MB")
    q.add_argument("--estimate", action="store_true",
                   help="print the metadata-only scan estimate per "
                        "--warehouse table instead of executing")
    q.set_defaults(fn=cmd_query)

    od = sub.add_parser("orchestrator-discover",
                        help="multi-source discovery with merge+attribution")
    od.add_argument("--provider", default="aws")
    od.add_argument("--source", action="append",
                    help="extra JSON discovery source file")
    od.add_argument("--output", choices=["table", "json"], default="table")
    od.set_defaults(fn=cmd_orchestrator_discover)

    cf = sub.add_parser("config", help="manage configuration (init/show/validate)")
    cf.add_argument("config_cmd", choices=["init", "show", "validate"])
    cf.add_argument("--path", default="corkscrew.yaml")
    cf.set_defaults(fn=cmd_config)

    inf = sub.add_parser("info", help="show provider information")
    inf.add_argument("--provider", default="aws")
    inf.add_argument("--output", choices=["table", "json"], default="table")
    inf.set_defaults(fn=cmd_info)

    vv = sub.add_parser("version", help="show version")
    vv.set_defaults(fn=cmd_version)

    pl = sub.add_parser("plugin", help="provider module management")
    pl.add_argument("plugin_cmd", choices=["list", "build", "status"])
    pl.set_defaults(fn=cmd_plugin)

    ini = sub.add_parser("init", help="bootstrap the ~/.corkscrew workspace")
    ini.add_argument("--dry-run", action="store_true")
    ini.add_argument("--upgrade", action="store_true",
                     help="rewrite the default config even if one exists")
    ini.set_defaults(fn=cmd_init)

    kq = sub.add_parser("kql", help="run a raw KQL pipeline over the tables")
    kq.add_argument("kql")
    kq.add_argument("--format", choices=sorted(formatter.FORMATTERS), default="table")
    kq.add_argument("--limit", type=int, default=100)
    kq.add_argument("--data", default=sf_dir())
    kq.add_argument("--warehouse", action="append", metavar="NAME=DIR",
                   help="add a warehouse table dir as a KQL table; "
                        "leading where conjuncts prune via zone maps")
    kq.add_argument("--max-scan-mb", type=int,
                    help="admission control: refuse the pipeline when "
                         "its metadata-only scan estimate over a "
                         "--warehouse table exceeds this many MB")
    kq.add_argument("--estimate", action="store_true",
                    help="print the metadata-only scan estimate per "
                         "--warehouse table instead of executing")
    kq.add_argument("--externaldata-root", action="append",
                    metavar="DIR",
                    help="allow-list a directory for `externaldata` "
                         "paths (repeatable; default: the "
                         "CORKSCREW_EXTERNALDATA_ROOTS env var, else "
                         "externaldata is refused)")
    kq.set_defaults(fn=cmd_kql)

    p = sub.add_parser("pack", help="compliance packs")
    p.add_argument("pack_cmd", choices=["run", "list", "search", "install", "installed"])
    p.add_argument("namespace", nargs="?")
    p.add_argument("--param", action="append")
    p.add_argument("--all", action="store_true",
                   help="run every discovered pack (run only)")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--search-path", action="append")
    p.add_argument("--control", action="append",
                   help="run only this control id (repeatable)")
    p.add_argument("--tag", action="append",
                   help="run only controls with this tag (repeatable)")
    p.add_argument("--data", default=sf_dir())
    p.add_argument("--registry", help="registry directory (search/install)")
    p.add_argument("--dest", help="install/installed directory")
    p.add_argument("--version", default="latest")
    p.add_argument("--force", action="store_true")
    p.add_argument("--provider")
    p.add_argument("--framework")
    p.set_defaults(fn=cmd_pack)

    s = sub.add_parser("schemas", help="print core table DDL")
    s.add_argument("--dialect", default="duckdb",
                   choices=["duckdb", "postgres", "sqlite"],
                   help="SQL dialect for DDL rendering")
    s.add_argument("--output", default="sql", choices=["sql", "json"])
    s.set_defaults(fn=cmd_schemas)

    sc = sub.add_parser("scan", help="run a provider scan into the warehouse")
    sc.add_argument("--provider", choices=["synthetic", "aws"], default="synthetic")
    sc.add_argument("--services")
    sc.add_argument("--regions")
    sc.add_argument("--use-sdk", action="store_true",
                    help="real boto3 clients (needs credentials + network)")
    sc.add_argument("--synthetic", type=int, default=300)
    sc.add_argument("--out", required=True)
    sc.add_argument("--expectations", metavar="RULES.json",
                    help="validate_expectations rules (JSON list) gating "
                         "the batch before it merges")
    sc.add_argument("--strict-expectations", action="store_true",
                    help="abort the scan (write nothing) on any violation")
    sc.set_defaults(fn=cmd_scan)

    dv = sub.add_parser("discover", help="list a provider's services/resource types")
    # default None so --idms can tell "all providers" from an explicit one;
    # the service-inventory path falls back to aws below
    dv.add_argument("--provider", choices=["aws", "azure", "gcp", "kubernetes"],
                    default=None)
    dv.add_argument("--idms", action="store_true",
                    help="discover identity-management services "
                         "(pkg/idmsdiscovery parity)")
    dv.add_argument("--output", choices=["table", "json"], default="table")
    dv.set_defaults(fn=cmd_discover)

    ls = sub.add_parser("list", help="list resource refs from a scan or search")
    ls.add_argument("--provider", choices=["aws"], default="aws")
    ls.add_argument("--services", help="comma-separated services (default: all)")
    ls.add_argument("--region", help="comma-separated regions (default: us-east-1)")
    ls.add_argument("--type", help="filter by resource type")
    ls.add_argument("--query", help="Resource-Explorer-style search query")
    ls.add_argument("--limit", type=int, default=50)
    ls.add_argument("--format", choices=sorted(formatter.FORMATTERS), default="table")
    ls.add_argument("--use-sdk", action="store_true")
    ls.set_defaults(fn=cmd_list)

    de = sub.add_parser("describe", help="describe one resource by id/ARN")
    de.add_argument("--resource-id", required=True)
    de.add_argument("--service")
    de.add_argument("--region")
    de.add_argument("--output", choices=["yaml", "json"], default="yaml")
    de.add_argument("--use-sdk", action="store_true")
    de.set_defaults(fn=cmd_describe)

    sv = sub.add_parser(
        "serve",
        help="serve the query API (JSON/HTTP + binary-protobuf "
             "/v1/grpc/<Method>; --grpc adds a real gRPC listener "
             "where grpcio is installed)")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8032)
    sv.add_argument("--grpc-port", type=int, default=0,
                    help="also serve CorkscrewAPI over gRPC on this port "
                         "(requires grpcio; 0 = auto-pick)")
    sv.add_argument("--grpc", action="store_true",
                    help="start the gRPC listener alongside HTTP")
    sv.add_argument("--data", default=sf_dir())
    sv.add_argument("--warehouse", action="append", metavar="NAME=DIR",
                    help="register a warehouse table dir on the served "
                         "engine; SQL conjuncts then read through "
                         "zone-map/bloom data skipping")
    sv.add_argument("--max-scan-mb", type=int,
                    help="admission control: the served engine refuses "
                         "queries whose metadata-only estimate over a "
                         "--warehouse table exceeds this many MB")
    sv.set_defaults(fn=cmd_serve)

    dg = sub.add_parser("diagram", help="render resources as mermaid/ascii")
    dg.add_argument("--data", required=True, help="warehouse dir with resources[/relationships]")
    dg.add_argument("--format", choices=["mermaid", "ascii"], default="mermaid")
    dg.add_argument("--service")
    dg.add_argument("--region")
    dg.add_argument("--limit", type=int, default=50)
    dg.set_defaults(fn=cmd_diagram)

    mt = sub.add_parser(
        "maintenance",
        help="warehouse maintenance "
             "(compact/vacuum/zorder/history/stats/skip-plan)")
    mt.add_argument("maint_cmd", choices=["compact", "vacuum", "zorder",
                                          "history", "stats", "skip-plan",
                                          "vstats"])
    mt.add_argument("path", help="table directory")
    mt.add_argument("--partition-by", help="hive partition columns (compact)")
    mt.add_argument("--target-mb", type=int, default=128)
    mt.add_argument("--keep-last", type=int, default=2)
    mt.add_argument("--by", help="xcol,ycol for zorder")
    mt.add_argument("--out", help="output path for zorder (default <path>.zorder)")
    mt.add_argument("--sort-by", help="linear clustering columns (compact)")
    mt.add_argument("--cols", help="zone-map columns (stats; compact --cols "
                                   "recomputes them after the rewrite)")
    mt.add_argument("--pred", action="append",
                    help="col,op,value predicate for skip-plan (repeatable; "
                         "op: < <= > >= = between in is_null is_not_null; "
                         "in/between take comma-separated values)")
    mt.add_argument("--any", action="store_true",
                    help="skip-plan: OR the --pred terms (DNF, one "
                         "branch each) instead of ANDing them; the "
                         "estimate reports the union row bound")
    mt.add_argument("--refresh", action="store_true",
                    help="incremental stats upkeep: recompute only "
                         "new/invalidated files (stats)")
    mt.add_argument("--version", type=int,
                    help="snapshot selector for vstats (default: latest)")
    mt.add_argument("--bloom-cols",
                    help="also build per-file Bloom filters for these "
                         "columns — equality-probe pruning on "
                         "high-cardinality ids (stats)")
    mt.add_argument("--bloom-bits",
                    help="bitmap bits per file per bloom column: a "
                         "number, or 'auto' to size from the table's "
                         "rows-per-file at ~1%% FP (the 8192 default "
                         "saturates above ~800 keys/file) (stats)")
    mt.set_defaults(fn=cmd_maintenance)


    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
