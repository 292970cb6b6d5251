"""Seeded cloud fleet served through the scanner's ``client_factory`` seam.

``pipeline.run_scan(client_factory=FleetFactory(...))`` builds one
``FleetClient`` per (service, region) cell on the Spark executors, so
this module must import without a Spark session and depend on nothing
but the standard library. Fleet state is a pure function of
(seed, service, region, cycle): cycle 0 is the set-up scan, and every
later cycle adds a few resources (~2%) and flips the state or ``env``
tag of a few others (~5%). ``expected_*`` replay the same function on
the driver to give the answers the drift and fresh-read checks need.

Injected factories bypass the scanner's per-worker ``OperationCache``
by design, so every cycle's scan really serves the cycle's pages.
"""

from __future__ import annotations

import zlib

SERVICES = ("s3", "ec2", "lambda", "rds", "dynamodb", "iam")
#: (result key, id field) per service — the shapes the scanner unpacks
SHAPES = {
    "s3": ("Buckets", "Name"),
    "ec2": ("Reservations", "InstanceId"),
    "lambda": ("Functions", "FunctionName"),
    "rds": ("DBInstances", "DBInstanceIdentifier"),
    "dynamodb": ("TableNames", ""),
    "iam": ("Users", "UserName"),
}
PAGE_SIZE = 100
ACCOUNT = "222222222222"
_STATES = ("available", "modifying")
_EC2_STATES = ("running", "stopped")
_ENVS = ("prod", "dev")


def regions(n: int) -> list[str]:
    return [f"fleet-region-{i:02d}" for i in range(n)]


def _h(*parts) -> int:
    return zlib.crc32("|".join(map(str, parts)).encode())


def cell_size(seed: int, service: str, region: str, cycle: int) -> int:
    """Resources in the cell at ``cycle``: 30-50 at set-up, then about
    0.8 new ones per cycle."""
    n = 30 + _h(seed, service, region) % 21
    return n + sum(1 for c in range(1, cycle + 1)
                   if _h(seed, service, region, c, "new") % 100 < 80)


def _flips(seed, service, region, i, cycle, salt, pct) -> int:
    return sum(1 for c in range(1, cycle + 1)
               if _h(seed, service, region, i, c, salt) % 100 < pct)


def resource(seed: int, service: str, region: str, i: int, cycle: int) -> dict:
    """One resource as the driver-side model: id, state and tags (None
    where the API shape carries none — bare dynamodb table names)."""
    name = f"{service}-{region}-{i:05d}"
    rid = f"arn:aws:{service}:{region}:{ACCOUNT}:{name}"
    if service == "dynamodb":
        return {"id": f"arn:aws:dynamodb:{region}:111111111111:{name}",
                "name": name, "state": None, "tags": None}
    states = _EC2_STATES if service == "ec2" else _STATES
    st = (_h(seed, service, region, i, "s0")
          + _flips(seed, service, region, i, cycle, "s", 3)) % 2
    env = (_h(seed, service, region, i, "e0")
           + _flips(seed, service, region, i, cycle, "e", 2)) % 2
    return {"id": rid, "name": name, "state": states[st],
            "tags": {"env": _ENVS[env], "team": f"t{i % 3}"}}


def cell(seed: int, service: str, region: str, cycle: int) -> list[dict]:
    return [resource(seed, service, region, i, cycle)
            for i in range(cell_size(seed, service, region, cycle))]


def _item(service: str, region: str, r: dict) -> dict | str:
    """The resource as the List API returns it."""
    if service == "dynamodb":
        return r["name"]
    _, id_field = SHAPES[service]
    tags = [{"Key": k, "Value": v} for k, v in sorted(r["tags"].items())]
    item = {id_field: r["name"], "Arn": r["id"], "Tags": tags}
    digest = f"{zlib.crc32(r['name'].encode()):08x}"
    if service == "ec2":
        item.update({"State": {"Name": r["state"]},
                     "VpcId": f"vpc-{digest}", "SubnetId": f"subnet-{digest}",
                     "SecurityGroupIds": [f"sg-{digest}"]})
        return {"Instances": [item]}
    item["State"] = r["state"]
    if service == "lambda":
        item["VpcConfig"] = {"SubnetIds": [f"subnet-{digest}"]}
    elif service == "rds":
        item["KmsKeyId"] = f"arn:aws:kms:{region}:{ACCOUNT}:key/{digest}"
    return item


class FleetPaginator:
    def __init__(self, service: str, region: str, seed: int, cycle: int,
                 pages=None):
        self._svc, self._region = service, region
        self._seed, self._cycle, self._pages = seed, cycle, pages

    def paginate(self):
        key, _ = SHAPES[self._svc]
        items = [_item(self._svc, self._region, r)
                 for r in cell(self._seed, self._svc, self._region, self._cycle)]
        for start in range(0, len(items), PAGE_SIZE):
            if self._pages is not None:
                self._pages.add(1)
            yield {key: items[start:start + PAGE_SIZE]}


class FleetClient:
    def __init__(self, service: str, region: str, seed: int, cycle: int,
                 pages=None):
        self._args = (service, region, seed, cycle, pages)

    def get_paginator(self, op_name: str) -> FleetPaginator:
        return FleetPaginator(*self._args)


class FleetFactory:
    """Picklable ``(service, region) -> client`` for one cycle's scan.
    ``pages`` is an optional Spark accumulator counting API pages served."""

    def __init__(self, seed: int, cycle: int, pages=None):
        self.seed, self.cycle, self.pages = seed, cycle, pages

    def __call__(self, service: str, region: str) -> FleetClient:
        return FleetClient(service, region, self.seed, self.cycle, self.pages)


def expected_state(seed: int, region_names: list[str], cycle: int) -> dict:
    """id -> resource model for the whole fleet at ``cycle``."""
    return {r["id"]: dict(r, service=s, region=g)
            for s in SERVICES for g in region_names
            for r in cell(seed, s, g, cycle)}


def expected_drift(base: dict, cur: dict) -> dict[str, int]:
    """Drift items ``changes.detect_drift`` must report between two fleet
    states (no deletions: the fleet only grows)."""
    out = {"NEW": 0, "STATE_CHANGE": 0, "TAG_CHANGE": 0}
    for rid, r in cur.items():
        b = base.get(rid)
        if b is None:
            out["NEW"] += 1
            continue
        if (b["state"] or "") != (r["state"] or ""):
            out["STATE_CHANGE"] += 1
        if b["tags"] and r["tags"]:
            out["TAG_CHANGE"] += sum(
                1 for k, v in r["tags"].items()
                if k in b["tags"] and b["tags"][k] != v)
    return {k: v for k, v in out.items() if v}
