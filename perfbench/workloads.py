"""The three workloads. Each builds its seeded inputs in ``setup`` and
then serves ``cycle(i)``: the fixed list of operations of cycle ``i``,
each with a run function and a correctness check against the
generator's known answers.

Operations call the program only through its public entry points —
module functions and methods looked up at call time — so a traced run
can wrap those attributes in place (``instrument``) and see every call.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import functions as F
from pyspark.sql import types as T

from corkscrew_spark import changes, kql, skipping, warehouse
from corkscrew_spark.compliance import executor as compliance
from corkscrew_spark.engine import QueryEngine
from corkscrew_spark.ingest import aws_scanner, pipeline
from corkscrew_spark.operators import dedup, fuzzy, graph
from corkscrew_spark.schema import RESOURCE_SCHEMA
from corkscrew_spark import server

from perfbench import fleet, gen
from perfbench.trace import Tracer

SIZES = {
    "estate_reads": {
        "full": {"resources": 24_000, "accounts": 8},
        "tiny": {"resources": 3_000, "accounts": 4},
    },
    "graph_blast": {
        "full": {"islands": 8, "vpcs": 2, "subnets": 3, "workloads": 16,
                 "shared": 10, "names": 600, "dup_groups": 20},
        "tiny": {"islands": 2, "vpcs": 1, "subnets": 1, "workloads": 3,
                 "shared": 2, "names": 12, "dup_groups": 2},
    },
    "scan_ingest": {
        "full": {"regions": 8},
        "tiny": {"regions": 2},
    },
}


@dataclass
class Op:
    """One operation. ``pre``/``post`` run outside the timer and may add
    fields to the operation's record (``post(record)``)."""
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    pre: Callable[[], None] | None = None
    post: Callable[[dict], None] | None = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """q-th percentile (nearest rank) of xs."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-q * len(s) // 100) - 1))]


class Workload:
    name = ""

    def __init__(self, spark, seed: int, size: str, work_dir: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.work_dir = work_dir
        self.extra: dict = {}  # input facts reported as run context

    def phase(self, name: str, t0: float) -> float:
        """Record a set-up phase's wall time as run context."""
        now = time.perf_counter()
        self.extra.setdefault("setup_phases_s", {})[name] = now - t0
        return now

    @property
    def sizes(self) -> dict:
        return SIZES[self.name][self.size]

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        raise NotImplementedError

    def corrupt(self) -> None:
        """Break one expected answer (self-test of the checks)."""
        raise NotImplementedError

    def end_to_end(self, ops: list[dict], cycles: list[dict],
                   elapsed: float) -> tuple[dict, dict]:
        """(generic metrics, the same numbers under this workload's own
        names)."""
        raise NotImplementedError

    def layers(self, ops: list[dict], spans: list[dict]) -> dict:
        """Per-layer report of the traced operations."""
        raise NotImplementedError


def _span_ms(spans, name, ops=None) -> list[float]:
    return [(s["end"] - s["start"]) * 1e3 for s in spans
            if s["name"] == name and (ops is None or s["op"] in ops)]


def _per_op(spans, prefix, op_ids) -> list[float]:
    """Summed span wall (ms) per operation, for spans named ``prefix*``."""
    out = {o: 0.0 for o in op_ids}
    for s in spans:
        if s["op"] in out and s["name"].startswith(prefix):
            out[s["op"]] += (s["end"] - s["start"]) * 1e3
    return list(out.values())


# ---------------------------------------------------------------------------
# estate_reads
# ---------------------------------------------------------------------------

_ESTATE_SPARK_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in (
        "id", "arn", "name", "type", "service", "provider", "region",
        "account_id", "parent_id", "tag_env", "tag_team", "attributes",
        "raw_data", "state")]
    + [T.StructField(c, T.TimestampType()) for c in (
        "created_at", "modified_at", "scanned_at")])

#: request kinds of one 30-request cycle (~33/27/13/17/10 %), in one
#: fixed shuffled order: the JVM is still warming up during the timed
#: cycle, so an order that changed with the seed would move each kind's
#: latency with it
_MIX = random.Random(0).sample(
    ["lookup"] * 10 + ["filter"] * 8 + ["groupby"] * 4 + ["kql"] * 5
    + ["compliance"] * 3, 30)
_GROUP_COLS = ("service", "region", "state")


def _seed_controls(seed: int) -> list[tuple[str, str]]:
    """The three cfi controls every cycle of a run requests: one from
    each native pack, rotating with the seed, so every run costs the same
    mix of pack shapes and any four consecutive seeds reach all 9
    controls (4 ccc-storage, 3 s3-observability, 2 tag-hygiene)."""
    packs: dict[str, list[tuple[str, str]]] = {}
    for ns, cid in gen.CFI_CONTROLS:
        packs.setdefault(ns, []).append((ns, cid))
    return [ctl[seed % len(ctl)] for ctl in packs.values()]


class EstateReads(Workload):
    """Point lookups, selective filters and whole-estate GROUP BYs through
    ``ApiServer.execute_query``, KQL through ``kql_to_df_skipping`` and
    single cfi controls through ``ComplianceExecutor.run_pack``, over a
    service-partitioned warehouse table with zone maps and an id bloom
    filter."""

    name = "estate_reads"

    def setup(self) -> None:
        t = time.perf_counter()
        n = self.sizes["resources"]
        frame, self.exp = gen.estate(self.seed, n, self.sizes["accounts"])
        t = self.phase("generate", t)
        self.path = os.path.join(self.work_dir, "resources")
        sdf = self.spark.createDataFrame(frame, _ESTATE_SPARK_SCHEMA)
        tags = F.map_filter(
            F.create_map(F.lit("Environment"), F.col("tag_env"),
                         F.lit("Team"), F.col("tag_team")),
            lambda k, v: v.isNotNull())
        sdf = sdf.withColumn("tags", tags).select(*RESOURCE_SCHEMA.names)
        # >= 8 files per service partition, each file a contiguous
        # (region, account, id) range
        per_file = min(frame["service"].value_counts()) // 8
        (sdf.repartition(len(gen.SERVICES), "service")
         .sortWithinPartitions("service", "region", "account_id", "id")
         .write.option("maxRecordsPerFile", per_file)
         .partitionBy("service").parquet(self.path))
        t = self.phase("write", t)
        skipping.compute_stats(
            self.spark, self.path, cols=["region", "account_id", "state", "id"],
            bloom_cols=["id"], bloom_bits=skipping.bloom_bits_for(per_file))
        t = self.phase("stats", t)
        self.api = server.ApiServer(self.spark, warehouse={"resources": self.path})
        self.packs = compliance.ComplianceExecutor(
            self.spark, warehouse={"resources": self.path})
        self.keys = sorted(self.exp["filter_page"])
        self.cells = sorted({(s, r) for s, r, _ in self.exp["cell_states"]})
        self.controls = _seed_controls(self.seed)
        self.extra["controls"] = [cid for _, cid in self.controls]
        # warm-up: one request of every kind, every compliance request of
        # a cycle included, so the timed cycles run on compiled plans and
        # warm caches
        warm = {op.kind: op for op in self.cycle(-1) if op.kind != "compliance"}
        warm = list(warm.values()) + [self._compliance(k)
                                      for k in range(len(self.controls))]
        for op in warm:
            op.check(op.run())
        self.phase("warm_up", t)

    # -- requests -------------------------------------------------------

    def _sql(self, sql, params=None):
        status, body = self.api.execute_query({"query": sql, "params": params})
        if status != 200 or "error" in body:
            raise RuntimeError(body.get("error", status))
        return [r["values"] for r in body["rows"]]

    def _lookup(self, rnd: random.Random, miss: bool) -> Op:
        if miss:
            rid = (f"arn:aws:s3:{rnd.choice(gen.REGIONS)}:"
                   f"{gen.account_ids(1)[0]}:s3-{self.exp['n'] + rnd.randrange(10**6):07d}")
            want = []
        else:
            rid = str(self.exp["ids"][rnd.randrange(self.exp["n"])])
            want = [{"id": rid, "service": self.exp["id_service"][rid],
                     "state": self.exp["id_state"][rid]}]
        return Op("lookup", lambda: self._sql(
            "SELECT id, service, state FROM resources WHERE id = :id",
            {"id": rid}), lambda rows: rows == want)

    def _filter(self, rnd: random.Random) -> Op:
        s, r, a = self.keys[rnd.randrange(len(self.keys))]
        want = self.exp["filter_page"][(s, r, a)]
        return Op("filter", lambda: self._sql(
            "SELECT id, name, state FROM resources WHERE service = :s "
            "AND region = :r AND account_id = :a ORDER BY id LIMIT 20",
            {"s": s, "r": r, "a": a}),
            lambda rows: [x["id"] for x in rows] == want)

    def _groupby(self, col: str) -> Op:
        def check(rows):
            got = {x[col]: int(x["n"]) for x in rows}
            return (got == self.exp[f"by_{col}"]
                    and sum(got.values()) == self.exp["n"])
        return Op("groupby", lambda: self._sql(
            f"SELECT {col}, count(*) AS n FROM resources GROUP BY {col}"),
            check)

    def _kql(self, rnd: random.Random) -> Op:
        s, r = self.cells[rnd.randrange(len(self.cells))]
        want = {st: c for (cs, cr, st), c in self.exp["cell_states"].items()
                if (cs, cr) == (s, r)}
        q = (f"resources | where service == '{s}' and region == '{r}' "
             "| summarize n = count() by state")

        def run():
            df = kql.kql_to_df_skipping(self.spark, q, {"resources": self.path})
            return df.collect()
        return Op("kql", run,
                  lambda rows: {x["state"]: x["n"] for x in rows} == want)

    def _compliance(self, k: int) -> Op:
        ns, cid = self.controls[k]
        want = self.exp["controls"][cid]

        def run():
            res = self.packs.run_pack(ns, controls=[cid])
            if res.errors:
                raise RuntimeError(res.errors)
            return res.summary().collect()

        def check(rows):
            rid = gen.CONTROL_RESULT_ID[cid]
            return ({x["status"]: x["resources"] for x in rows} == want
                    and all(x["control_id"] == rid for x in rows))
        return Op("compliance", run, check)

    def cycle(self, i: int) -> list[Op]:
        rnd = random.Random(f"{self.seed}/{i}")
        ops, lookups, controls = [], 0, 0
        for j, kind in enumerate(_MIX):
            if kind == "lookup":
                # one lookup in ten misses; fixed shares keep every
                # cycle's mix identical
                ops.append(self._lookup(rnd, miss=lookups == 0))
                lookups += 1
            elif kind == "filter":
                ops.append(self._filter(rnd))
            elif kind == "groupby":
                ops.append(self._groupby(_GROUP_COLS[j % 3]))
            elif kind == "kql":
                ops.append(self._kql(rnd))
            else:
                ops.append(self._compliance(controls))
                controls += 1
        return ops

    def corrupt(self) -> None:
        self.exp["n"] += 1

    # -- tracing and metrics --------------------------------------------

    def instrument(self, tracer: Tracer) -> None:
        def plan_counts(plan):
            return {"kept": len(plan.get("kept", ())),
                    "pruned": len(plan.get("pruned", ()))}
        tracer.wrap(server.ApiServer, "execute_query", "server.execute_query")
        tracer.wrap(QueryEngine, "validate", "engine.validate")
        tracer.wrap(QueryEngine, "execute", "engine.execute")
        tracer.wrap(skipping, "plan_skip", "skipping.plan", plan_counts)
        tracer.wrap(skipping, "plan_skip_any", "skipping.plan", plan_counts)
        tracer.wrap(kql, "kql_to_df_skipping", "kql.compile")
        tracer.wrap(compliance.ComplianceExecutor, "run_pack",
                    "compliance.run_pack")

    def end_to_end(self, ops, cycles, elapsed):
        lat = [o["wall"] * 1e3 for o in ops]
        m = {"cycle_s": median([c["wall"] for c in cycles])}
        named = {"read_qps": len(ops) / elapsed, "read_p50_ms": median(lat),
                 "read_p90_ms": pct(lat, 90), "requests": len(lat)}
        return m, named

    def layers(self, ops, spans):
        out = {}
        sql_ops = {o["id"] for o in ops if o["kind"] in ("lookup", "filter", "groupby")}
        for kind in ("lookup", "filter", "groupby"):
            ids = {o["id"] for o in ops if o["kind"] == kind}
            out[f"server.execute_query_ms.{kind}"] = median(
                _span_ms(spans, "server.execute_query", ids))
        validate = _per_op(spans, "engine.validate", sql_ops)
        plan = _per_op(spans, "skipping.plan", sql_ops)
        served = _per_op(spans, "server.execute_query", sql_ops)
        out["engine.validate_ms"] = median(validate)
        out["engine.exec_ms"] = median(
            [s - v - p for s, v, p in zip(served, validate, plan)])
        out["skipping.plan_ms"] = median(_span_ms(spans, "skipping.plan"))
        kept = sum(s.get("kept", 0) for s in spans if s["name"] == "skipping.plan")
        pruned = sum(s.get("pruned", 0) for s in spans if s["name"] == "skipping.plan")
        out["skipping.files_kept_ratio"] = kept / max(1, kept + pruned)
        out["kql.compile_ms"] = median(_span_ms(spans, "kql.compile"))
        out["compliance.run_pack_ms"] = median(_span_ms(spans, "compliance.run_pack"))
        return out


# ---------------------------------------------------------------------------
# graph_blast
# ---------------------------------------------------------------------------

#: graph operator -> span name
_GRAPH_SPANS = {"k_hop": "graph.k_hop", "shortest_path": "graph.shortest_path",
                "connected_components_star": "graph.cc_star",
                "pagerank": "graph.pagerank"}


class GraphBlast(Workload):
    """One cycle: ``shortest_path``, ``connected_components_star``,
    personalised ``pagerank``, entity resolution (``fuzzy_self_join`` →
    ``dup_clusters``), then 4 blast-radius ``k_hop`` calls (reversed
    edges, depth 4, different start nodes)."""

    name = "graph_blast"

    def setup(self) -> None:
        t = time.perf_counter()
        z = self.sizes
        self.g = gen.graph(self.seed, z["islands"], z["vpcs"], z["subnets"],
                           z["workloads"], z["shared"], z["names"],
                           z["dup_groups"])
        self.edges = self.spark.createDataFrame(
            self.g["edges"], "src string, dst string").localCheckpoint(eager=True)
        self.reversed = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ).localCheckpoint(eager=True)
        self.names = self.spark.createDataFrame(
            self.g["names"], "id string, name string").localCheckpoint(eager=True)
        self.extra["edges"] = len(self.g["edges"])
        self.extra["nodes"] = self.g["nodes"]
        t = self.phase("build", t)
        # warm-up: every operator once on the full-size graph (a warm-up
        # on a smaller graph cost as much: the cold cost is the first
        # compile of each operator's plans, not data); one blast-radius
        # call stands for the four, which share a plan
        for op in self.cycle(-1)[:5]:
            op.check(op.run())
        self.phase("warm_up", t)

    def _blast(self, j: int) -> Op:
        seeds, want = self.g["blast"][j], self.g["blast_expected"][j]
        return Op("k_hop", lambda: graph.k_hop(
            self.reversed, seeds, max_depth=4, directed=True).collect(),
            lambda rows: {r["node"]: r["distance"] for r in rows} == want)

    def _shortest(self) -> Op:
        src, dst, depth = self.g["sp"]
        edge_set = set(self.g["edges"])

        def check(rows):
            if len(rows) != 1 or rows[0]["depth"] != depth:
                return False
            p = rows[0]["path"]
            return (p[0] == src and p[-1] == dst and len(p) == depth + 1
                    and all((a, b) in edge_set or (b, a) in edge_set
                            for a, b in zip(p, p[1:])))
        return Op("shortest_path", lambda: graph.shortest_path(
            self.edges, src, dst, max_depth=10).collect(), check)

    def _components(self) -> Op:
        return Op("cc_star", lambda: graph.connected_components_star(
            self.edges).groupBy("component").count().collect(),
            lambda rows: sorted(r["count"] for r in rows)
            == self.g["island_sizes"])

    def _pagerank(self) -> Op:
        def check(rows):
            return (abs(rows[0]["mass"] - 1.0) <= 1e-6
                    and rows[0]["n"] == self.g["nodes"])
        return Op("pagerank", lambda: graph.pagerank(
            self.edges, iters=4, reset_nodes=self.g["reset"]).agg(
            F.sum("rank").alias("mass"), F.count(F.lit(1)).alias("n")).collect(),
            check)

    def _resolve(self) -> Op:
        def run():
            pairs = fuzzy.fuzzy_self_join(self.names, "id", "name", max_dist=2)
            clusters = dedup.dup_clusters(pairs, "id_a", "id_b")
            return (clusters.groupBy("cluster_id")
                    .agg(F.collect_set("doc_id").alias("members"))
                    .filter(F.size("members") > 1).collect())
        return Op("resolve", run, lambda rows: {
            frozenset(r["members"]) for r in rows} == set(self.g["dup_groups"]))

    def cycle(self, i: int) -> list[Op]:
        # the blast-radius calls come last, on the JVM the rest of the
        # cycle has warmed further
        return ([self._shortest(), self._components(), self._pagerank(),
                 self._resolve()] + [self._blast(j) for j in range(4)])

    def corrupt(self) -> None:
        self.g["island_sizes"] = self.g["island_sizes"][1:]

    def instrument(self, tracer: Tracer) -> None:
        for fn, span in _GRAPH_SPANS.items():
            tracer.wrap(graph, fn, span)
        tracer.wrap(fuzzy, "fuzzy_self_join", "dedup.fuzzy_self_join")
        tracer.wrap(dedup, "dup_clusters", "dedup.dup_clusters")
        tracer.wrap(graph, "ckpt_observe", "ckpt.observe")
        tracer.wrap(dedup, "_ckpt_observe", "ckpt.observe")

    def end_to_end(self, ops, cycles, elapsed):
        blast = [o["wall"] * 1e3 for o in ops if o["kind"] == "k_hop"]
        m = {"cycle_s": median([c["wall"] for c in cycles])}
        named = {"graph_cycle_s": m["cycle_s"], "blast_p50_ms": median(blast),
                 "blast_samples": len(blast), "cycles": len(cycles)}
        return m, named

    def layers(self, ops, spans):
        out = {}
        for kind in ("k_hop", "shortest_path", "cc_star", "pagerank", "resolve"):
            mine = [o for o in ops if o["kind"] == kind]
            key = "dedup.resolve" if kind == "resolve" else f"graph.{kind}"
            out[f"{key}_s"] = median([o["wall"] for o in mine])
            out[f"{key}_jobs"] = median([o["jobs"] for o in mine])
        rounds = [sum(1 for s in spans if s["op"] == o["id"]
                      and s["name"] == "ckpt.observe") for o in ops]
        out["ckpt.rounds_per_op"] = statistics.mean(rounds) if rounds else 0.0
        out["ckpt.round_ms"] = median(_span_ms(spans, "ckpt.observe"))
        return out


# ---------------------------------------------------------------------------
# scan_ingest
# ---------------------------------------------------------------------------

def _table_files(path: str) -> dict[str, tuple[int, int]]:
    """data file -> (size, mtime_ns) under a table directory."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


class ScanIngest(Workload):
    """One cycle: ``pipeline.run_scan(with_relationships=True)`` over a
    seeded fleet with per-cycle churn, ``skipping.refresh_stats``,
    ``changes.detect_drift`` against the set-up baseline plus
    ``drift_summary``, then three fresh reads through one long-lived
    ``QueryEngine``."""

    name = "scan_ingest"

    def setup(self) -> None:
        t = time.perf_counter()
        self.regions = fleet.regions(self.sizes["regions"])
        self.out = os.path.join(self.work_dir, "estate")
        self.res_path = os.path.join(self.out, "resources")
        self.pages = self.spark.sparkContext.accumulator(0)
        self.offset = 0  # corrupt() shifts the expected fleet size
        self._scan(0)
        t = self.phase("scan", t)
        skipping.compute_stats(self.spark, self.res_path,
                               cols=["region", "state", "id"], bloom_cols=["id"])
        t = self.phase("stats", t)
        _, snap = changes.create_baseline(
            self.spark.read.parquet(self.res_path), "perfbench-setup")
        snap.write.parquet(os.path.join(self.work_dir, "baseline"))
        self.baseline = self.spark.read.parquet(
            os.path.join(self.work_dir, "baseline"))
        self.base_state = fleet.expected_state(self.seed, self.regions, 0)
        self.engine = QueryEngine(self.spark)
        self.engine.register_warehouse("resources", self.res_path)
        t = self.phase("baseline", t)
        # warm-up: the drift and read shapes of a cycle, run on the set-up
        # table (their answers are the next cycle's, so no check applies).
        # The first churn scan is timed: after the set-up scan, its merge
        # costs about a second more than later ones, and a whole warm-up
        # cycle would cost every run ten.
        for op in self._ops(1)[2:]:
            op.run()
        self.phase("warm_up", t)

    def _scan(self, c: int):
        return pipeline.run_scan(
            self.spark, self.out, list(fleet.SERVICES), self.regions,
            client_factory=fleet.FleetFactory(self.seed, c, self.pages),
            with_relationships=True)

    def _read(self, sql, params=None):
        return self.engine.execute(sql, params).df.collect()

    def cycle(self, i: int) -> list[Op]:
        # fleet cycle 0 is the set-up scan
        return self._ops(i + 1)

    def _ops(self, c: int) -> list[Op]:
        state = fleet.expected_state(self.seed, self.regions, c)
        total = len(state)

        def scan_check(summary):
            return (summary["total_resources"] == total + self.offset
                    and summary["status"] == "completed")

        before: dict = {}

        def scan_pre():
            before["files"] = _table_files(self.res_path)
            before["pages"] = self.pages.value

        def scan_post(rec):
            rec["scanned"] = total
            rec["pages"] = self.pages.value - before["pages"]
            self._file_facts(before["files"], rec)

        def refresh_check(stats):
            return len(stats["files"]) == len(_table_files(self.res_path))

        want_drift = fleet.expected_drift(self.base_state, state)

        def drift():
            d = changes.detect_drift(self.baseline,
                                     self.spark.read.parquet(self.res_path))
            return changes.drift_summary(d, total).collect()

        def drift_check(rows):
            got: dict[str, int] = {}
            for r in rows:
                got[r["drift_type"]] = got.get(r["drift_type"], 0) + r["items"]
            return got == want_drift

        prev = fleet.expected_state(self.seed, self.regions, c - 1)
        new_ids = sorted(set(state) - set(prev))
        rnd = random.Random(f"{self.seed}/{c}")
        new_id = new_ids[rnd.randrange(len(new_ids))]
        svc = gen.SERVICES[c % len(gen.SERVICES)]
        region = self.regions[rnd.randrange(len(self.regions))]
        svc_count = sum(1 for r in state.values() if r["service"] == svc)
        ec2_states: dict[str, int] = {}
        for r in state.values():
            if r["service"] == "ec2" and r["region"] == region:
                ec2_states[r["state"]] = ec2_states.get(r["state"], 0) + 1

        return [
            Op("scan", lambda: self._scan(c), scan_check, scan_pre, scan_post),
            Op("refresh", lambda: skipping.refresh_stats(self.spark, self.res_path),
               refresh_check),
            Op("drift", drift, drift_check),
            Op("fresh_read", lambda: self._read(
                "SELECT id, state FROM resources WHERE id = :id", {"id": new_id}),
               lambda rows: [(r["id"], r["state"]) for r in rows]
               == [(new_id, state[new_id]["state"])]),
            Op("fresh_read", lambda: self._read(
                "SELECT count(*) AS n FROM resources WHERE service = :s",
                {"s": svc}), lambda rows: rows[0]["n"] == svc_count),
            Op("fresh_read", lambda: self._read(
                "SELECT state, count(*) AS n FROM resources WHERE service = 'ec2' "
                "AND region = :r GROUP BY state", {"r": region}),
               lambda rows: {r["state"]: r["n"] for r in rows} == ec2_states),
        ]

    def corrupt(self) -> None:
        self.offset = 1

    def instrument(self, tracer: Tracer) -> None:
        def merge_name(args, kwargs):
            path = args[1] if len(args) > 1 else kwargs["path"]
            return f"warehouse.merge.{os.path.basename(path.rstrip('/'))}"
        tracer.wrap(pipeline, "run_scan", "ingest.run_scan")
        tracer.wrap(aws_scanner, "scan_with_errors", "ingest.scan_with_errors")
        tracer.wrap(warehouse, "merge_upsert", merge_name)
        tracer.wrap(warehouse, "append", "warehouse.append")
        tracer.wrap(skipping, "refresh_stats", "skipping.refresh")
        tracer.wrap(changes, "detect_drift", "changes.detect_drift")
        tracer.wrap(changes, "drift_summary", "changes.drift_summary")
        tracer.wrap(QueryEngine, "validate", "engine.validate")
        tracer.wrap(QueryEngine, "execute", "engine.execute")
        tracer.wrap(skipping, "plan_skip", "skipping.plan")
        tracer.wrap(skipping, "plan_skip_any", "skipping.plan")

    def end_to_end(self, ops, cycles, elapsed):
        scans = [o for o in ops if o["kind"] == "scan"]
        reads = [o["wall"] * 1e3 for o in ops if o["kind"] == "fresh_read"]
        scanned = sum(o["scanned"] for o in scans)
        m = {"cycle_s": median([c["wall"] for c in cycles])}
        named = {"ingest_rps": scanned / sum(o["wall"] for o in scans),
                 "ingest_cycle_s": m["cycle_s"],
                 "fresh_read_p50_ms": median(reads), "fresh_reads": len(reads),
                 "cycles": len(cycles)}
        return m, named

    def layers(self, ops, spans):
        scans = [o for o in ops if o["kind"] == "scan"]
        scan_ids = {o["id"] for o in scans}
        run_scan = _per_op(spans, "ingest.run_scan", scan_ids)
        writes = [m + a for m, a in zip(
            _per_op(spans, "warehouse.merge.", scan_ids),
            _per_op(spans, "warehouse.append", scan_ids))]
        reads = {o["id"] for o in ops if o["kind"] == "fresh_read"}
        drift = {o["id"] for o in ops if o["kind"] == "drift"}
        return {
            "ingest.run_scan_s": median(run_scan) / 1e3,
            "ingest.scan_s": median([r - w for r, w in zip(run_scan, writes)]) / 1e3,
            "ingest.api_pages": median([o["pages"] for o in scans]),
            "warehouse.merge_s.resources": median(
                _span_ms(spans, "warehouse.merge.resources")) / 1e3,
            "warehouse.merge_s.relationships": median(
                _span_ms(spans, "warehouse.merge.relationships")) / 1e3,
            "warehouse.append_s": median(_span_ms(spans, "warehouse.append")) / 1e3,
            "warehouse.rewrite_fraction": median(
                [o["rewrite_fraction"] for o in scans]),
            "warehouse.files_per_partition": median(
                [o["files_per_partition"] for o in scans]),
            "skipping.refresh_s": median(_span_ms(spans, "skipping.refresh")) / 1e3,
            "changes.drift_s": median(_per_op(spans, "changes.", drift)) / 1e3,
            "engine.validate_ms": median(_per_op(spans, "engine.validate", reads)),
        }

    def _file_facts(self, before: dict, rec: dict) -> None:
        """Bytes of files the scan created ÷ table bytes, and data files
        per service partition afterwards."""
        after = _table_files(self.res_path)
        created = sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))
        rec["rewrite_fraction"] = created / max(1, sum(sz for sz, _ in after.values()))
        parts: dict[str, int] = {}
        for p in after:
            part = os.path.basename(os.path.dirname(p))
            parts[part] = parts.get(part, 0) + 1
        rec["files_per_partition"] = statistics.mean(parts.values()) if parts else 0


WORKLOADS = {w.name: w for w in (EstateReads, GraphBlast, ScanIngest)}
