"""Seeded synthetic catalog in the reference sample's CSV schemas.

``generate(out_dir, tables=N, seed=S)`` writes the CSV inputs that
``example/sample_job.py`` reads and returns an ``Expect``: the graph a
refresh over them must stage, taken from the generator's own bookkeeping.
It holds every staged shard with its rows and every table search
document, so a check can compare the staged CSV line for line and the
documents field for field.

The seed changes names, values and which tables carry tags, badges and
watermarks. It never changes the set of (label, property-set) shards, so
the Spark job count of a refresh is the same for every seed. Values never
contain a comma, a quote or an empty string, so every property is present
on every row of its shard and the staged CSV needs no quoting.

Readers (the usage CSV's user emails) are disjoint from the user CSV:
``union_graphs`` keeps an arbitrary one of two same-key nodes whose
property sets differ, which would make shard membership nondeterministic.
Column badges and table badges are disjoint for the same reason.

``churn(shards, seed=S)`` derives generation 2 of a staged graph: a seeded
share of every shard's rows is removed, changed or replaced by a new
replica, and the delta is returned with it. ``write_staged`` writes either
generation in the layout of sinks/graph_csv.
"""

from __future__ import annotations

import csv
import functools
import hashlib
import os
import random
from collections import defaultdict

STAMP_PROPS = ("published_tag", "publisher_last_updated_epoch_ms")
NODE_FIXED = ("KEY", "LABEL")
REL_FIXED = ("START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "TYPE",
             "REVERSE_TYPE")
REVERSE = {"CLUSTER": "CLUSTER_OF", "SCHEMA": "SCHEMA_OF", "TABLE": "TABLE_OF",
           "DESCRIPTION": "DESCRIPTION_OF", "TAGGED_BY": "TAG",
           "COLUMN": "COLUMN_OF", "HAS_BADGE": "BADGE_FOR",
           "MANAGE_BY": "MANAGE", "READ_BY": "READ",
           "LAST_UPDATED_AT": "LAST_UPDATED_TIME_OF",
           "BELONG_TO_TABLE": "WATERMARK", "HAS_DOWNSTREAM": "HAS_UPSTREAM"}

DATABASES = ("hive", "dynamo", "mysql")
CLUSTERS = ("gold", "silver")
COL_TYPES = ("string", "bigint", "double", "boolean", "timestamp")
TAG_WORDS = ("core", "finance", "growth", "ml", "ops", "pii_free",
             "recommended", "raw", "curated", "legacy", "hourly", "daily")
COL_BADGES = ("pk", "pii", "fk", "nullable_key")
TABLE_BADGES = ("beta", "certified", "deprecated", "gold_tier")
TEAMS = ("core", "search", "infra", "growth")
ROLES = ("swe", "sre", "analyst", "manager")
WORDS = ("alpha", "bravo", "delta", "ember", "fjord", "glacier", "harbor",
         "iris", "juniper", "kelp", "lumen", "meadow", "nimbus", "orbit",
         "prairie", "quartz", "ridge", "summit", "tundra", "umber")

# Explicit read schemas of the generated CSVs (``sources.csv_source.read_csv``
# infers one when none is given; an explicit schema skips that scan).
SCHEMAS = {
    "sample_user": "email string, first_name string, last_name string, "
                   "full_name string, github_username string, "
                   "team_name string, employee_type string, "
                   "manager_email string, slack_id string, role_name string",
    "sample_column_usage": "database string, cluster string, schema string, "
                           "table_name string, column_name string, "
                           "user_email string, read_count long",
    "sample_table_last_updated": "cluster string, db string, schema string, "
                                 "table_name string, "
                                 "last_updated_time_epoch long",
    "sample_schema_description": "schema_key string, schema string, "
                                 "description string",
    "sample_badges": "name string, category string, database string, "
                     "cluster string, schema string, table_name string",
    "sample_watermark": "create_time string, database string, schema string, "
                        "table_name string, part_name string, "
                        "part_type string, cluster string",
    "sample_table_lineage": "source_table_key string, target_table_key string",
}


def schema_hash(props) -> str:
    """The shard id that sinks/graph_csv derives from a property set."""
    return hashlib.md5(",".join(sorted(props)).encode()).hexdigest()


def shard_name(fixed: tuple, props) -> str:
    if len(fixed) == len(NODE_FIXED):
        return _shard_name(("nodes", fixed[1]), frozenset(props))
    return _shard_name(("rels", fixed[1], fixed[4], fixed[3]),
                       frozenset(props))


@functools.lru_cache(maxsize=None)
def _shard_name(kind_labels: tuple, props: frozenset) -> str:
    h = schema_hash(props | set(STAMP_PROPS))[:8]
    return f"{kind_labels[0]}/{'_'.join(kind_labels[1:])}_{h}"


def row_key(fixed: tuple) -> tuple:
    """Identity of a staged row: (KEY, LABEL) or (START_KEY, END_KEY, TYPE),
    the key columns of ``diff_generations`` and ``sweep``."""
    return tuple(fixed) if len(fixed) == 2 else (fixed[0], fixed[2], fixed[4])


class Expect:
    """Expected staged graph: shard -> {row key: (fixed columns, props)}
    of the rows the expansions in ``sources`` produce (all when None), so
    a refresh that runs only some of the expansions knows its share."""

    def __init__(self, sources=None):
        self.sources = None if sources is None else set(sources)
        self.shards: dict[str, dict[tuple, tuple]] = defaultdict(dict)
        # table key -> the table search document build_table_documents
        # must produce for it
        self.docs: dict[str, dict] = {}
        self.rows_in: dict[str, int] = {}

    @property
    def table_docs(self) -> int:
        return len(self.docs)

    def add(self, src: str, fixed: tuple, props: dict):
        if self.sources is None or src in self.sources:
            self.shards[shard_name(fixed, props)][row_key(fixed)] = (
                fixed, props)

    def node(self, src, label, key, props):
        self.add(src, (key, label), props)

    def rel(self, src, start, end, typ, skey, ekey, props=None):
        self.add(src, (skey, start, ekey, end, typ, REVERSE[typ]), props or {})

    def count(self, kind: str) -> int:
        return sum(len(v) for k, v in self.shards.items()
                   if k.startswith(kind + "/"))


def staged_lines(shards: dict, tag: str, epoch_ms: int) -> dict:
    """shard -> (header, sorted data lines) exactly as sinks/graph_csv
    stages them after ``stamp_publish_tag(tag, epoch_ms)``."""
    from amundsendatabuilder_spark.sinks.graph_csv import UNQUOTED_PROPS
    stamp = {"published_tag": tag, "publisher_last_updated_epoch_ms":
             str(epoch_ms)}
    out = {}
    for shard, rows in shards.items():
        if not rows:
            continue
        fixed0, props0 = next(iter(rows.values()))
        names = sorted(set(props0) | set(STAMP_PROPS))
        fixed_cols = NODE_FIXED if len(fixed0) == 2 else REL_FIXED
        header = ",".join(list(fixed_cols) + [
            f"{p}:UNQUOTED" if p in UNQUOTED_PROPS else p for p in names])
        lines = sorted(",".join(list(fixed) + [{**props, **stamp}[p]
                                               for p in names])
                       for fixed, props in rows.values())
        out[shard] = (header, lines)
    return out


def staged_row(fixed: tuple, props: dict, tag: str, epoch_ms: int) -> dict:
    """One staged row as ``sources.graph.read_staged_graph`` reads it back
    (and a publish writer receives it): the fixed columns plus every
    property, publish stamp included, as strings."""
    cols = NODE_FIXED if len(fixed) == len(NODE_FIXED) else REL_FIXED
    return {**dict(zip(cols, fixed)), "props": {
        **props, "published_tag": tag,
        "publisher_last_updated_epoch_ms": str(epoch_ms)}}


def write_staged(shards: dict, out_dir: str, tag: str, epoch_ms: int):
    """Write a staged graph in the layout of sinks/graph_csv: one directory
    per shard holding one headed CSV part file."""
    for shard, (header, lines) in staged_lines(shards, tag, epoch_ms).items():
        d = os.path.join(out_dir, shard)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000.csv"), "w") as f:
            f.write("".join(line + "\n" for line in [header, *lines]))


def _write(out_dir, name, header, rows):
    with open(os.path.join(out_dir, f"{name}.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return len(rows)


def generate(out_dir: str, *, tables: int, seed: int,
             sources=None) -> Expect:
    """Write the catalog CSVs under ``out_dir`` and return what a refresh
    that runs the expansions in ``sources`` (all when None) over them must
    stage. The CSVs do not depend on ``sources``. ``tables`` >= 8 keeps
    every shard populated."""
    assert tables >= 8, "fewer tables cannot populate every shard"
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    exp = Expect(sources)
    salt = rnd.choice(WORDS)

    def rows_in(name, header, rows):
        exp.rows_in[name] = _write(out_dir, name, header, rows)

    # --- tables and columns ------------------------------------------------
    table_rows, col_rows, tbl = [], [], []
    by_schema = defaultdict(list)  # (db, cluster, schema) -> table keys
    for i in range(tables):
        db = DATABASES[i % len(DATABASES)] if i < 6 else rnd.choice(DATABASES)
        cl = CLUSTERS[i % len(CLUSTERS)] if i < 6 else rnd.choice(CLUSTERS)
        sc = f"{rnd.choice(WORDS)}_schema"
        name = f"t{i}_{salt}_{rnd.choice(WORDS)}"
        # the first table always carries a tag, so the Tag shard exists
        tags = rnd.sample(TAG_WORDS, 1 if i == 0 else rnd.choice((0, 0, 1, 2)))
        is_view = "true" if rnd.random() < 0.2 else "false"
        desc = f"table {i} holds {rnd.choice(WORDS)} facts"
        table_rows.append([db, cl, sc, name, desc, ",".join(tags), is_view,
                           ""])
        tbl.append((db, cl, sc, name))
        tkey, skey = f"{db}://{cl}.{sc}/{name}", f"{db}://{cl}.{sc}"
        by_schema[(db, cl, sc)].append(tkey)
        doc = exp.docs[tkey] = {
            "database": db, "cluster": cl, "schema": sc, "name": name,
            "key": tkey, "display_name": f"{sc}.{name}", "description": desc,
            "schema_description": None, "last_updated_timestamp": None,
            "column_names": [], "column_descriptions": [], "total_usage": 0,
            "unique_usage": 0, "tags": tags, "badges": [],
            "programmatic_descriptions": []}
        exp.node("tables", "Table", tkey, {"name": name, "is_view": is_view})
        exp.node("tables", "Database", f"database://{db}", {"name": db})
        exp.node("tables", "Cluster", f"{db}://{cl}", {"name": cl})
        exp.node("tables", "Schema", skey, {"name": sc})
        exp.rel("tables", "Database", "Cluster", "CLUSTER",
                f"database://{db}", f"{db}://{cl}")
        exp.rel("tables", "Cluster", "Schema", "SCHEMA", f"{db}://{cl}", skey)
        exp.rel("tables", "Schema", "Table", "TABLE", skey, tkey)
        exp.node("tables", "Description", f"{tkey}/_description",
                 {"description": desc, "description_source": "description"})
        exp.rel("tables", "Table", "Description", "DESCRIPTION", tkey,
                f"{tkey}/_description")
        for t in tags:
            exp.node("tables", "Tag", t, {"tag_type": "default"})
            exp.rel("tables", "Table", "Tag", "TAGGED_BY", tkey, t)
        for j in range(1, rnd.choice((1, 2, 2, 3, 3)) + 1):
            cname = f"c{j}_{rnd.choice(WORDS)}"
            ctype = rnd.choice(COL_TYPES)
            cdesc = f"column {j} of table {i}"
            # the first column always carries a badge
            badges = rnd.sample(COL_BADGES, 1 if (i, j) == (0, 1)
                                else rnd.choice((0, 0, 0, 1)))
            col_rows.append([cname, cdesc, ctype, j, db, cl, sc, name,
                             ",".join(badges)])
            doc["column_names"].append(cname)
            doc["column_descriptions"].append(cdesc)
            ckey = f"{tkey}/{cname}"
            exp.node("tables", "Column", ckey,
                     {"name": cname, "col_type": ctype, "sort_order": str(j)})
            exp.rel("tables", "Table", "Column", "COLUMN", tkey, ckey)
            exp.node("tables", "Description", f"{ckey}/_description",
                     {"description": cdesc,
                      "description_source": "description"})
            exp.rel("tables", "Column", "Description", "DESCRIPTION", ckey,
                    f"{ckey}/_description")
            for b in badges:
                exp.node("tables", "Badge", b, {"category": "column"})
                exp.rel("tables", "Column", "Badge", "HAS_BADGE", ckey, b)
    rows_in("sample_table", ["database", "cluster", "schema", "name",
                             "description", "tags", "is_view",
                             "description_source"], table_rows)
    rows_in("sample_col", ["name", "description", "col_type", "sort_order",
                           "database", "cluster", "schema", "table_name",
                           "badges"], col_rows)

    # --- users (each with a manager) and disjoint readers ------------------
    n_users = max(4, tables * 4 // 5)
    emails = [f"u{k}.{rnd.choice(WORDS)}@example.org" for k in range(n_users)]
    user_rows = []
    for k, email in enumerate(emails):
        first, last = rnd.choice(WORDS).title(), rnd.choice(WORDS).title()
        mgr = emails[(k + 1 + rnd.randrange(n_users - 1)) % n_users]
        team, role = rnd.choice(TEAMS), rnd.choice(ROLES)
        user_rows.append([email, first, last, f"{first} {last}",
                          f"gh{k}{salt}", team, "employee", mgr, f"slack{k}",
                          role])
        exp.node("users", "User", email, {
            "email": email, "first_name": first, "last_name": last,
            "full_name": f"{first} {last}", "github_username": f"gh{k}{salt}",
            "team_name": team, "employee_type": "employee",
            "slack_id": f"slack{k}", "role_name": role,
            "is_active": "true", "updated_at": "0"})
        exp.rel("users", "User", "User", "MANAGE_BY", email, mgr)
    rows_in("sample_user", ["email", "first_name", "last_name", "full_name",
                            "github_username", "team_name", "employee_type",
                            "manager_email", "slack_id", "role_name"],
            user_rows)

    readers = [f"r{k}.{salt}@example.org" for k in range(max(2, tables // 4))]
    usage_rows = []
    for db, cl, sc, name in tbl:
        for reader in rnd.sample(readers, rnd.choice((1, 1, 2))):
            count = rnd.randrange(1, 5000)
            usage_rows.append([db, cl, sc, name, "*", reader, count])
            doc = exp.docs[f"{db}://{cl}.{sc}/{name}"]
            doc["total_usage"] += count
            doc["unique_usage"] += 1
            exp.node("column_usage", "User", reader, {"email": reader})
            exp.rel("column_usage", "Table", "User", "READ_BY",
                    f"{db}://{cl}.{sc}/{name}", reader,
                    {"read_count": str(count)})
    rows_in("sample_column_usage", ["database", "cluster", "schema",
                                    "table_name", "column_name", "user_email",
                                    "read_count"], usage_rows)

    # --- last updated, schema descriptions, table badges, watermarks -------
    lu_rows = []
    for db, cl, sc, name in tbl:
        epoch = 1_600_000_000 + rnd.randrange(50_000_000)
        lu_rows.append([cl, db, sc, name, epoch])
        tkey = f"{db}://{cl}.{sc}/{name}"
        exp.docs[tkey]["last_updated_timestamp"] = epoch
        exp.node("last_updated", "Timestamp", f"{tkey}/timestamp",
                 {"timestamp": str(epoch),
                  "last_updated_timestamp": str(epoch),
                  "name": "last_updated_timestamp"})
        exp.rel("last_updated", "Table", "Timestamp", "LAST_UPDATED_AT", tkey,
                f"{tkey}/timestamp")
    rows_in("sample_table_last_updated", ["cluster", "db", "schema",
                                          "table_name",
                                          "last_updated_time_epoch"], lu_rows)

    sd_rows = []
    for k, (db, cl, sc) in enumerate(sorted(by_schema)):
        if k and rnd.random() < 0.5:
            continue
        skey = f"{db}://{cl}.{sc}"
        desc = f"schema {sc} owned by {rnd.choice(TEAMS)}"
        sd_rows.append([skey, sc, desc])
        for tkey in by_schema[(db, cl, sc)]:
            exp.docs[tkey]["schema_description"] = desc
        exp.node("schema_descriptions", "Schema", skey, {"name": sc})
        exp.node("schema_descriptions", "Description",
                 f"{skey}/_description",
                 {"description": desc, "description_source": "description"})
        exp.rel("schema_descriptions", "Schema", "Description", "DESCRIPTION",
                skey, f"{skey}/_description")
    rows_in("sample_schema_description", ["schema_key", "schema",
                                          "description"], sd_rows)

    badge_rows, wm_rows = [], []
    for i, (db, cl, sc, name) in enumerate(tbl):
        tkey = f"{db}://{cl}.{sc}/{name}"
        if i == 0 or rnd.random() < 0.3:
            names = rnd.sample(TABLE_BADGES, rnd.choice((1, 1, 2)))
            badge_rows.append([",".join(names), "table_status", db, cl, sc,
                               name])
            exp.docs[tkey]["badges"] = sorted(names)
            for b in names:
                exp.node("badges", "Badge", b, {"category": "table_status"})
                exp.rel("badges", "Table", "Badge", "HAS_BADGE", tkey, b)
        if i == 0 or rnd.random() < 0.4:
            for part_type, day in (("low_watermark", rnd.randrange(1, 15)),
                                   ("high_watermark", rnd.randrange(15, 29))):
                created = f"2024-02-{day:02d}T0{rnd.randrange(10)}:00:00"
                wm_rows.append([created, db, sc, name,
                                f"ds=2024-01-{day:02d}", part_type, cl])
                wkey = f"{tkey}/{part_type}/"
                exp.node("watermarks", "Watermark", wkey,
                         {"partition_key": "ds",
                          "partition_value": f"2024-01-{day:02d}",
                          "create_time": created})
                exp.rel("watermarks", "Watermark", "Table", "BELONG_TO_TABLE",
                        wkey, tkey)
    rows_in("sample_badges", ["name", "category", "database", "cluster",
                              "schema", "table_name"], badge_rows)
    rows_in("sample_watermark", ["create_time", "database", "schema",
                                 "table_name", "part_name", "part_type",
                                 "cluster"], wm_rows)

    lineage, pairs = [], set()
    tkeys = [f"{db}://{cl}.{sc}/{name}" for db, cl, sc, name in tbl]
    for k in range(max(2, tables // 2)):
        a, b = (0, 1) if k == 0 else rnd.sample(range(tables), 2)
        if (a, b) in pairs:
            continue
        pairs.add((a, b))
        lineage.append([tkeys[a], tkeys[b]])
        exp.rel("table_lineage", "Table", "Table", "HAS_DOWNSTREAM", tkeys[a],
                tkeys[b])
    rows_in("sample_table_lineage", ["source_table_key", "target_table_key"],
            lineage)
    return exp


def churn(shards: dict, *, seed: int, frac: float = 0.02):
    """Generation 2 of ``shards``: in every shard, ``frac`` of the rows
    is split evenly into removed, changed (one property value rewritten)
    and added (a replica of a removed row under a new key). Shards without
    properties get no changed share.

    Returns (gen2 shards, delta) where delta maps 'nodes'|'rels' ->
    'added'|'changed'|'removed' -> sorted row keys."""
    rnd = random.Random(seed * 7919 + 1)
    gen2: dict[str, dict] = {}
    delta = {kind: {"added": [], "changed": [], "removed": []}
             for kind in ("nodes", "rels")}
    for shard, rows in sorted(shards.items()):
        kind = shard.split("/")[0]
        rows = dict(rows)
        k = int(len(rows) * frac) // 3
        picked = rnd.sample(sorted(rows), 2 * k)
        removed, changed = picked[:k], picked[k:]
        for key in removed:
            fixed, props = rows.pop(key)
            delta[kind]["removed"].append(key)
            # the replica takes the removed row's place under a fresh key
            fixed = list(fixed)
            fixed[0 if kind == "nodes" else 2] += f"_r{rnd.randrange(10**6)}"
            rows[row_key(fixed)] = (tuple(fixed), props)
            delta[kind]["added"].append(row_key(fixed))
        for key in changed:
            fixed, props = rows[key]
            if not props:
                continue
            prop = sorted(props)[0]
            rows[key] = (fixed, {**props, prop: props[prop] + "_v2"})
            delta[kind]["changed"].append(key)
        gen2[shard] = rows
    return gen2, {kind: {c: sorted(v) for c, v in d.items()}
                  for kind, d in delta.items()}
