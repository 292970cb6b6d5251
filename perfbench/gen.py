"""Seeded input generators with known answers.

Each generator is a pure function of its seed (and a size table): the
same seed gives the same inputs on every host. Expected answers are
derived here from the generator's own bookkeeping, never from the
program under test, so a wrong result from any layer shows up as a
failed operation.

* ``estate``   — a RESOURCE_SCHEMA-shaped inventory as a pandas frame,
  plus per-(service, region, account) id lists, group-by totals and the
  PASS/FAIL/WARNING counts each cfi compliance control must return.
* ``graph``    — a resource-relationship graph of K disconnected account
  islands (account → VPC → subnet → workload → load balancer, with
  skewed ``uses`` edges to shared roles/keys/SGs and a few role cycles)
  and a name list with injected near-duplicate groups.
* fleet state for the scan workload lives in ``fleet.py`` because the
  Spark executors import it to serve API pages.
"""

from __future__ import annotations

import datetime as dt
import string
from collections import deque

import numpy as np
import pandas as pd

SERVICES = ("s3", "ec2", "lambda", "rds", "dynamodb", "iam")
TYPE_NAMES = {
    "s3": "AWS::S3::Bucket",
    "ec2": "AWS::EC2::Instance",
    "lambda": "AWS::Lambda::Function",
    "rds": "AWS::RDS::DBInstance",
    "dynamodb": "AWS::DynamoDB::Table",
    "iam": "AWS::IAM::User",
}
REGIONS = tuple(
    f"{geo}-{d}-{n}"
    for geo in ("us", "eu", "ap", "sa")
    for d in ("east", "west")
    for n in (1, 2)
)  # 16 regions
STATES = ("running", "stopped", "available", "pending")
ENVS = ("Production", "Staging", "Development", "prod-legacy", None)
TEAMS = ("core", "data", "web", None)
TRUSTED_KMS = "arn:aws:kms:us-east-1:123:key/trusted-key-123"
ALLOWED_ENVS = ("Production", "Staging", "Development")

#: (pack namespace, control id) for every control of the native cfi packs,
#: grouped by pack.
CFI_CONTROLS = (
    ("cfi/ccc-storage", "bucket_versioning"),
    ("cfi/ccc-storage", "bucket_encryption_trusted_kms"),
    ("cfi/ccc-storage", "bucket_deletion_protection"),
    ("cfi/ccc-storage", "uniform_bucket_access"),
    ("cfi/s3-observability", "s3-obs-01"),
    ("cfi/s3-observability", "s3-obs-02"),
    ("cfi/s3-observability", "s3-obs-03"),
    ("cfi/tag-hygiene", "required_tags_present"),
    ("cfi/tag-hygiene", "env_tag_allowed"),
)
#: control id as the pack SQL emits it (the result's control_id column)
CONTROL_RESULT_ID = {
    "bucket_versioning": "ccc-storage-01",
    "bucket_encryption_trusted_kms": "ccc-storage-02",
    "bucket_deletion_protection": "ccc-storage-03",
    "uniform_bucket_access": "ccc-storage-04",
    "s3-obs-01": "s3-obs-01",
    "s3-obs-02": "s3-obs-02",
    "s3-obs-03": "s3-obs-03",
    "required_tags_present": "tag-hygiene-01",
    "env_tag_allowed": "tag-hygiene-02",
}


def account_ids(n: int) -> list[str]:
    return [f"{100000000000 + 7919 * i:012d}" for i in range(n)]


# ---------------------------------------------------------------------------
# Estate
# ---------------------------------------------------------------------------

def _s3_blob(rng: np.random.Generator, n: int):
    """raw_data JSON for n buckets plus, per cfi control, each bucket's
    expected status — computed from the same draws that built the JSON."""
    versioning = rng.integers(0, 3, n)        # 0 Enabled, 1 Suspended, 2 absent
    sse = rng.integers(0, 3, n)               # 0 kms trusted, 1 kms other, 2 AES256
    policy = rng.integers(0, 3, n)            # 0 deny delete, 1 allow, 2 absent
    pab_present = rng.random(n) < 0.8
    pab_flags = rng.random((n, 4)) < 0.85
    logging = rng.random(n) < 0.6
    lifecycle = rng.integers(0, 3, n)         # 0 Enabled, 1 Disabled, 2 absent
    blobs = []
    status: dict[str, list[str]] = {c: [] for c in (
        "bucket_versioning", "bucket_encryption_trusted_kms",
        "bucket_deletion_protection", "uniform_bucket_access",
        "s3-obs-01", "s3-obs-02", "s3-obs-03")}
    flag_names = ("BlockPublicAcls", "BlockPublicPolicy", "IgnorePublicAcls",
                  "RestrictPublicBuckets")
    for i in range(n):
        parts = []
        if versioning[i] < 2:
            parts.append('"Versioning": {"Status": "%s"}'
                         % ("Enabled" if versioning[i] == 0 else "Suspended"))
        algo = "aws:kms" if sse[i] < 2 else "AES256"
        key = TRUSTED_KMS if sse[i] == 0 else "arn:aws:kms:us-east-1:999:key/other"
        parts.append(
            '"ServerSideEncryptionConfiguration": {"Rules": [{'
            '"ApplyServerSideEncryptionByDefault": {"SSEAlgorithm": "%s", '
            '"KMSMasterKeyID": "%s"}}]}' % (algo, key))
        if policy[i] == 0:
            parts.append('"Policy": "Deny s3:DeleteBucket"')
        elif policy[i] == 1:
            parts.append('"Policy": "Allow s3:GetObject"')
        if pab_present[i]:
            flags = ", ".join(f'"{f}": {"true" if pab_flags[i, j] else "false"}'
                              for j, f in enumerate(flag_names))
            parts.append('"PublicAccessBlock": {"PublicAccessBlockConfiguration": '
                         '{%s}}' % flags)
        if logging[i]:
            parts.append('"Logging": {"LoggingEnabled": {"TargetBucket": "logs"}}')
        if lifecycle[i] < 2:
            parts.append('"LifecycleConfiguration": {"Rules": [{"Status": "%s"}]}'
                         % ("Enabled" if lifecycle[i] == 0 else "Disabled"))
        blobs.append("{" + ", ".join(parts) + "}")
        all_flags = bool(pab_present[i] and pab_flags[i].all())
        status["bucket_versioning"].append("PASS" if versioning[i] == 0 else "FAIL")
        status["bucket_encryption_trusted_kms"].append("PASS" if sse[i] == 0 else "FAIL")
        status["bucket_deletion_protection"].append("PASS" if policy[i] == 0 else "FAIL")
        status["uniform_bucket_access"].append("PASS" if all_flags else "FAIL")
        status["s3-obs-01"].append("PASS" if logging[i] else "WARNING")
        status["s3-obs-02"].append("PASS" if lifecycle[i] == 0 else "WARNING")
        status["s3-obs-03"].append("PASS" if all_flags else "FAIL")
    return blobs, status


def estate(seed: int, n: int, n_accounts: int) -> tuple[pd.DataFrame, dict]:
    """``n`` resources over SERVICES × REGIONS × accounts.

    Returns (frame, expected). The frame has every RESOURCE_SCHEMA column
    except ``tags``, which the caller builds from ``tag_env``/``tag_team``
    (a map column). ``expected`` holds the known answers the read mix
    checks against."""
    rng = np.random.default_rng(seed)
    accounts = np.array(account_ids(n_accounts))
    svc_i = rng.integers(0, len(SERVICES), n)
    reg_i = rng.integers(0, len(REGIONS), n)
    acc_i = rng.integers(0, n_accounts, n)
    svc = np.array(SERVICES)[svc_i]
    reg = np.array(REGIONS)[reg_i]
    acc = accounts[acc_i]
    k = np.arange(n)
    name = np.char.add(np.char.add(svc, "-"), np.char.zfill(k.astype(str), 7))
    ids = np.char.add(
        np.char.add(np.char.add("arn:aws:", svc), ":"),
        np.char.add(np.char.add(np.char.add(reg, ":"), np.char.add(acc, ":")), name))
    state = np.array(STATES)[rng.integers(0, len(STATES), n)]
    env = np.array(ENVS, dtype=object)[rng.integers(0, len(ENVS), n)]
    team = np.array(TEAMS, dtype=object)[rng.integers(0, len(TEAMS), n)]

    raw = np.empty(n, dtype=object)
    s3_rows = np.flatnonzero(svc == "s3")
    blobs, s3_status = _s3_blob(rng, len(s3_rows))
    raw[s3_rows] = blobs
    other = np.flatnonzero(svc != "s3")
    raw[other] = [f'{{"Checksum": "{x:08x}"}}' for x in
                  rng.integers(0, 2**32, len(other))]

    ts = dt.datetime(2026, 1, 1)
    frame = pd.DataFrame({
        "id": ids, "arn": ids, "name": name,
        "type": [TYPE_NAMES[s] for s in svc], "service": svc,
        "provider": "aws", "region": reg, "account_id": acc,
        "parent_id": None, "tag_env": env, "tag_team": team,
        "attributes": None, "raw_data": raw, "state": state,
        "created_at": ts, "modified_at": ts, "scanned_at": ts,
    })

    expected: dict = {"n": n, "ids": ids, "id_service": dict(zip(ids, svc)),
                      "id_state": dict(zip(ids, state))}
    for col in ("service", "region", "state"):
        expected[f"by_{col}"] = frame[col].value_counts().to_dict()
    # the LIMIT-20 page of each selective filter, in id order
    pages = frame.sort_values("id").groupby(["service", "region", "account_id"])["id"]
    expected["filter_page"] = {key: list(v.head(20)) for key, v in pages}
    # kql: state histogram of each (service, region) cell
    expected["cell_states"] = (
        frame.groupby(["service", "region", "state"]).size().to_dict())

    controls: dict[str, dict[str, int]] = {}
    for cid, statuses in s3_status.items():
        controls[cid] = pd.Series(statuses, dtype=object).value_counts().to_dict()
    has_both = pd.notna(env) & pd.notna(team)
    controls["required_tags_present"] = {"PASS": int(has_both.sum()),
                                         "FAIL": int(n - has_both.sum())}
    env_s = pd.Series(env, dtype=object)
    allowed = env_s.isin(ALLOWED_ENVS)
    missing = env_s.isna()
    controls["env_tag_allowed"] = {
        "PASS": int(allowed.sum()), "WARNING": int(missing.sum()),
        "FAIL": int(n - allowed.sum() - missing.sum())}
    expected["controls"] = {
        cid: {s: int(c) for s, c in counts.items() if c}
        for cid, counts in controls.items()}
    return frame, expected


# ---------------------------------------------------------------------------
# Graph
# ---------------------------------------------------------------------------

def graph(seed: int, islands: int, vpcs: int, subnets: int,
          workloads_per_subnet: int, shared: int, names: int,
          dup_groups: int) -> dict:
    """Edges point from a resource to what it depends on; blast radius
    walks them reversed. Every island is connected and islands share no
    node, so connected components must equal ``islands``."""
    rng = np.random.default_rng(seed)
    edges: list[tuple[str, str]] = []
    island_of: dict[str, int] = {}
    lbs_all, accts, roles_all, keys_all = [], [], [], []
    for a in range(islands):
        acct = f"a{a}"
        accts.append(acct)
        island_of[acct] = a
        roles = [f"{acct}.role{r}" for r in range(shared)]
        keys = [f"{acct}.key{q}" for q in range(max(2, shared // 2))]
        sgs = [f"{acct}.sg{g}" for g in range(shared)]
        roles_all.append(roles)
        keys_all.append(keys)
        for node in roles + keys + sgs:
            island_of[node] = a
        # skewed (zipf-like) choice of shared role/sg per workload
        weights = 1.0 / np.arange(1, shared + 1) ** 1.2
        weights /= weights.sum()
        workloads: list[str] = []
        for v in range(vpcs):
            vpc = f"{acct}.v{v}"
            island_of[vpc] = a
            edges.append((vpc, acct))
            for s in range(subnets):
                sub = f"{vpc}.s{s}"
                island_of[sub] = a
                edges.append((sub, vpc))
                n_w = workloads_per_subnet + int(rng.integers(-2, 3))
                for w in range(n_w):
                    kind = ("i", "f", "d")[int(rng.integers(0, 3))]
                    node = f"{sub}.{kind}{w}"
                    island_of[node] = a
                    workloads.append(node)
                    edges.append((node, sub))
                    if kind == "d":
                        edges.append((node, keys[int(rng.integers(0, len(keys)))]))
                    else:
                        edges.append((node, roles[int(rng.choice(shared, p=weights))]))
                        edges.append((node, sgs[int(rng.choice(shared, p=weights))]))
        for r, role in enumerate(roles):
            edges.append((role, keys[r % len(keys)]))
        # a few assume-role cycles
        for r in range(0, shared - 1, 4):
            edges.append((roles[r], roles[r + 1]))
            edges.append((roles[r + 1], roles[r]))
        # load balancers depend on the workloads they target
        n_lb = max(1, len(workloads) // 10)
        for b in range(n_lb):
            lb = f"{acct}.lb{b}"
            island_of[lb] = a
            lbs_all.append(lb)
            for t in rng.choice(len(workloads), size=min(4, len(workloads)),
                                replace=False):
                edges.append((lb, workloads[int(t)]))
    edges = sorted(set(edges))
    # shared nodes no workload picked have no edge and are not in the graph
    used = {n for e in edges for n in e}
    island_of = {n: a for n, a in island_of.items() if n in used}

    # blast-radius seeds: an account, a VPC, a role and a key, each from
    # a different island, so the four k_hop calls start from different
    # places on every cycle.
    pick = rng.permutation(islands)
    blast = [
        [accts[pick[0 % islands]]],
        [f"{accts[pick[1 % islands]]}.v0"],
        [roles_all[pick[2 % islands]][0]],
        [keys_all[pick[3 % islands]][0]],
    ]
    rev = _adjacency([(d, s) for s, d in edges])
    und = _adjacency(edges + [(d, s) for s, d in edges])
    blast_expected = [_bfs(rev, seeds, 4) for seeds in blast]

    # shortest path: a load balancer to the account root of its island
    # (layered distance lb → workload → subnet → vpc → account = 4)
    lb = lbs_all[int(rng.integers(0, len(lbs_all)))]
    dst = f"a{island_of[lb]}"
    sp_depth = _bfs(und, [lb], 16).get(dst)

    # pagerank reset set: the four blast seeds
    reset = [s for seeds in blast for s in seeds]

    name_rows, groups = _names(rng, names, dup_groups)
    return {
        "edges": edges, "nodes": len(island_of), "blast": blast,
        "blast_expected": blast_expected, "sp": (lb, dst, sp_depth),
        "reset": reset, "names": name_rows, "dup_groups": groups,
        "island_sizes": sorted(np.bincount(list(island_of.values())).tolist()),
    }


def _adjacency(edges):
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    return adj


def _bfs(adj, seeds, max_depth) -> dict[str, int]:
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] == max_depth:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _names(rng, n: int, groups: int):
    """``n`` distinct resource names, ``groups`` of them with one or two
    near-duplicates (1-2 character edits). Base names carry 12 random
    letters, so two unrelated names are never within edit distance 2."""
    letters = np.array(list(string.ascii_lowercase))
    rows: list[tuple[str, str]] = []
    dup_sets: list[frozenset[str]] = []
    for i in range(n):
        base = "svc-" + "".join(letters[rng.integers(0, 26, 12)])
        rid = f"n{i}"
        rows.append((rid, base))
        if i < groups:
            members = {rid}
            for j in range(1 + int(rng.integers(0, 2))):
                chars = list(base)
                for _ in range(1 + j):
                    pos = 4 + int(rng.integers(0, 12))
                    chars[pos] = "0123456789"[int(rng.integers(0, 10))]
                did = f"n{i}d{j}"
                rows.append((did, "".join(chars)))
                members.add(did)
            dup_sets.append(frozenset(members))
    return rows, dup_sets
