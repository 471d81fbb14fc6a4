"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import catalog_gen  # noqa: E402
import corpus_gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _files(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def _shape(exp):
    """Shard set plus each shard's column header: what fixes job counts."""
    return {s: h for s, (h, _) in
            catalog_gen.staged_lines(exp.shards, "t", 1).items()}


def test_same_seed_same_catalog(tmp_path):
    a = catalog_gen.generate(str(tmp_path / "a"), tables=40, seed=7)
    b = catalog_gen.generate(str(tmp_path / "b"), tables=40, seed=7)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a.shards == b.shards


@pytest.mark.parametrize("tables", [8, 12, 300])
def test_seed_changes_values_not_shards(tmp_path, tables):
    exps = [catalog_gen.generate(str(tmp_path / str(s)), tables=tables,
                                 seed=s) for s in (1, 2, 3)]
    assert _files(tmp_path / "1") != _files(tmp_path / "2")
    assert _shape(exps[0]) == _shape(exps[1]) == _shape(exps[2])
    # every label of the reference sample is populated
    labels = {s.split("/")[1].rsplit("_", 1)[0]
              for s in exps[0].shards if s.startswith("nodes/")}
    assert labels == {"Table", "Database", "Cluster", "Schema", "Description",
                      "Tag", "Column", "Badge", "User", "Timestamp",
                      "Watermark"}
    for models in (run.REPUBLISH_MODELS, run.REFRESH_MODELS):
        subsets = [catalog_gen.generate(str(tmp_path / f"{s}m"), tables=tables,
                                        seed=s, sources=models)
                   for s in (1, 2, 3)]
        assert _shape(subsets[0]) == _shape(subsets[1]) == _shape(subsets[2])
        # a subset stages a share of the full graph, never another graph
        for full, sub in zip(exps, subsets):
            assert 0 < sub.count("rels") < full.count("rels")
            for shard, rows in sub.shards.items():
                assert rows.items() <= full.shards[shard].items()


def test_expected_counts_come_from_bookkeeping(tmp_path):
    exp = catalog_gen.generate(str(tmp_path), tables=50, seed=3)
    with open(tmp_path / "sample_table.csv") as f:
        assert sum(1 for _ in f) - 1 == 50 == exp.table_docs
    tables = [s for s in exp.shards if s.startswith("nodes/Table_")]
    assert [len(exp.shards[s]) for s in tables] == [50]
    usage = catalog_gen.generate(str(tmp_path / "u"), tables=50, seed=3,
                                 sources=["column_usage"])
    assert usage.count("rels") == exp.rows_in["sample_column_usage"]


def test_churn_delta_is_seeded_and_bounded():
    exp = catalog_gen.Expect()
    for i in range(600):
        exp.node("users", "User", f"u{i}", {"email": f"u{i}"})
        exp.rel("users", "User", "User", "MANAGE_BY", f"u{i}", "u0")
    gen2, delta = catalog_gen.churn(exp.shards, seed=5)
    assert (gen2, delta) == catalog_gen.churn(exp.shards, seed=5)
    assert delta != catalog_gen.churn(exp.shards, seed=6)[1]
    for kind in ("nodes", "rels"):
        assert len(delta[kind]["removed"]) == len(delta[kind]["added"]) == 4
    # prop-less relationships cannot change
    assert len(delta["nodes"]["changed"]) == 4
    assert delta["rels"]["changed"] == []
    # under the 5% staleness guard
    assert len(delta["nodes"]["removed"]) / 600 < 0.05


def _staged_refresh(tmp_path, exp):
    """A refresh output directory exactly as expected."""
    out = tmp_path / "out"
    catalog_gen.write_staged(exp.shards, str(out / "graph"), run.TAG,
                             run.EPOCH_MS)
    (out / "es").mkdir()
    (out / "es" / "part-00000.txt").write_text(
        "".join(json.dumps(d, sort_keys=True) + "\n"
                for d in exp.docs.values()))
    summary = {"status": "success", "nodes": exp.count("nodes"),
               "rels": exp.count("rels")}
    lines = catalog_gen.staged_lines(exp.shards, run.TAG, run.EPOCH_MS)
    return str(out), summary, lines


def test_check_refresh_accepts_expected_output(tmp_path):
    exp = catalog_gen.generate(str(tmp_path / "in"), tables=12, seed=1)
    out, summary, lines = _staged_refresh(tmp_path, exp)
    problems, digest = run.check_refresh(summary, out, exp, lines)
    assert problems == []
    assert digest == run.check_refresh(summary, out, exp, lines)[1]


def test_corrupted_output_is_a_failed_iteration(tmp_path):
    exp = catalog_gen.generate(str(tmp_path / "in"), tables=12, seed=1)
    out, summary, lines = _staged_refresh(tmp_path, exp)
    _, good = run.check_refresh(summary, out, exp, lines)
    part = sorted((tmp_path / "out" / "graph" / "nodes").glob("Table_*"))[0]
    f = part / "part-00000.csv"
    text = f.read_text().splitlines()
    f.write_text("\n".join(text[:1] + [text[1] + "x"] + text[2:]) + "\n")
    problems, bad = run.check_refresh(summary, out, exp, lines)
    assert problems and bad != good
    f.write_text("\n".join(text[:-1]) + "\n")  # a lost row
    assert any("rows" in p for p in
               run.check_refresh(summary, out, exp, lines)[0])
    assert run.check_refresh({**summary, "nodes": 0}, out, exp, lines)[0]


def test_search_document_content_is_checked(tmp_path):
    exp = catalog_gen.generate(str(tmp_path / "in"), tables=12, seed=1)
    out, summary, lines = _staged_refresh(tmp_path, exp)
    docs = tmp_path / "out" / "es" / "part-00000.txt"
    good = docs.read_text().splitlines()
    for corrupt in ({"total_usage": 0}, {"badges": []}, {"tags": ["x"]}):
        bad = [json.dumps({**json.loads(good[0]), **corrupt})] + good[1:]
        docs.write_text("\n".join(bad) + "\n")
        problems, _ = run.check_refresh(summary, out, exp, lines)
        assert any("docs differ" in p for p in problems), corrupt
    dropped = json.loads(good[0])
    del dropped["schema_description"]  # a dropped property
    docs.write_text("\n".join([json.dumps(dropped)] + good[1:]) + "\n")
    assert run.check_refresh(summary, out, exp, lines)[0]


def _writes(upserts, delta, batch=3):
    """What a correct publish of ``delta`` hands the writer."""
    got = {"upsert": {}, "delete": {}, "batches": 0, "max_upsert": batch,
           "max_delete": batch, "bytes": 1}
    for kind in ("nodes", "rels"):
        got["upsert"][kind] = [json.loads(json.dumps(r))
                               for r in upserts[kind].values()]
        got["delete"][kind] = list(delta[kind]["removed"])
    return got


def test_check_republish():
    exp = catalog_gen.Expect()
    for i in range(900):
        exp.node("column_usage", "User", f"r{i}", {"email": f"r{i}"})
        exp.rel("column_usage", "Table", "User", "READ_BY", "t", f"r{i}",
                {"read_count": str(i)})
    gen2, delta = catalog_gen.churn(exp.shards, seed=2)
    rows2 = {k: v for shard in gen2.values() for k, v in shard.items()}
    upserts = {kind: {k: catalog_gen.staged_row(*rows2[k], "g2", 2)
                      for k in delta[kind]["added"] + delta[kind]["changed"]}
               for kind in ("nodes", "rels")}
    assert delta["nodes"]["changed"] and delta["rels"]["changed"]
    assert run.check_republish(_writes(upserts, delta), delta, upserts) == []
    extra = _writes(upserts, delta)
    extra["upsert"]["nodes"].append({"KEY": "r1", "LABEL": "User",
                                     "props": {"email": "r1"}})
    assert run.check_republish(extra, delta, upserts)
    missing = _writes(upserts, delta)
    missing["delete"]["rels"].pop()
    assert run.check_republish(missing, delta, upserts)
    assert run.check_republish(_writes(upserts, delta, batch=501), delta,
                               upserts)
    # a published row that lost a property, or carries a stale value
    for kind, prop in (("nodes", "email"), ("rels", "read_count"),
                       ("nodes", "published_tag")):
        dropped = _writes(upserts, delta)
        del dropped["upsert"][kind][0]["props"][prop]
        assert any("differ" in p for p in
                   run.check_republish(dropped, delta, upserts)), prop
    stale = _writes(upserts, delta)
    stale["upsert"]["rels"][-1]["props"]["read_count"] += "0"
    assert run.check_republish(stale, delta, upserts)


def test_writer_round_trip(tmp_path):
    w = run.FileWriter(str(tmp_path))
    w.upsert("merge:User", [{"KEY": "a", "LABEL": "User", "props": {}}])
    w.upsert("merge_rel", [{"START_KEY": "a", "END_KEY": "b", "TYPE": "T",
                            "props": {}}] * 2)
    w.delete([{"KEY": "c", "LABEL": "User"}])
    got = run.collect_writes(str(tmp_path))
    assert got["upsert"] == {
        "nodes": [{"KEY": "a", "LABEL": "User", "props": {}}],
        "rels": [{"START_KEY": "a", "END_KEY": "b", "TYPE": "T",
                  "props": {}}] * 2}
    assert got["delete"] == {"nodes": [("c", "User")], "rels": []}
    assert (got["batches"], got["max_upsert"], got["max_delete"]) == (2, 2, 1)


def test_corpus_tables_are_seeded(tmp_path):
    a = corpus_gen.generate(str(tmp_path / "a"), seed=4)
    corpus_gen.generate(str(tmp_path / "b"), seed=4)
    corpus_gen.generate(str(tmp_path / "c"), seed=5)
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"}
    files = {d: _files(tmp_path / d) for d in "abc"}
    assert files["a"] == files["b"] != files["c"]


def test_wrong_query_result_is_a_failed_iteration():
    rows = [(1, 2.5, "x"), (2, None, "y")]
    good = run.digests({"q": run.canonical_rows(["k", "v", "s"], rows)})
    # row and column order do not matter
    same = run.digests({"q": run.canonical_rows(
        ["s", "k", "v"], [(r[2], r[0], r[1]) for r in reversed(rows)])})
    assert run.differing(same, good) == []
    for bad_rows in ([(1, 2.5, "x")], [(1, 2.51, "x"), (2, None, "y")],
                     [(1, 2.5, "x"), (2, 0.0, "y")]):
        bad = run.digests({"q": run.canonical_rows(["k", "v", "s"],
                                                   bad_rows)})
        assert run.differing(bad, good) == ["q"]
    assert run.differing({}, good) == ["q"]


def test_event_log_attribution():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Submission Time": 2500, "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 4000},
    ]
    stats, jobs = spans.group_stats(events)
    assert stats["a"] == {"jobs": 1, "tasks": 2, "exec_s": 0.75,
                          "shuffle_mb": 2.0}
    assert stats["untraced"]["jobs"] == 1
    assert jobs == [("a", 1.0, 3.0), ("untraced", 2.5, 4.0)]
    assert spans.busy_seconds([(1.0, 3.0), (2.5, 4.0), (6, 7)], 0, 6.5) == 3.5


def test_layer_metrics_self_time():
    span_list = [
        {"id": "s0", "layer": "jobs", "call": "run", "parent": None,
         "iter": 1, "wall": 5.0},
        {"id": "s1", "layer": "graph_csv", "call": "write_graph",
         "parent": "s0", "iter": 1, "wall": 3.0},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 101_000,
         "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 103_000},
    ]
    m = spans.layer_metrics(span_list, events, {1: (100.0, 106.0)}, cores=4)
    assert m["jobs.wall_s"] == 5.0 and m["jobs.self_s"] == 2.0
    assert m["graph_csv.jobs"] == 1 and m["jobs.jobs"] == 0
    assert m["scheduler.jobs"] == 1
    assert m["scheduler.driver_gap_s"] == 4.0
    assert m["scheduler.span_cover_frac"] == 5.0 / 6.0


def test_operator_queries_are_reported_per_query():
    span_list = [
        {"id": "s0", "layer": "operators", "call": "q1", "parent": None,
         "iter": 1, "wall": 2.0},
        {"id": "s1", "layer": "operators", "call": "q2", "parent": None,
         "iter": 1, "wall": 1.0},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": j, "Stage IDs": [j],
         "Submission Time": 100_000 + j,
         "Properties": {"spark.jobGroup.id": "s1"}} for j in range(3)]
    m = spans.layer_metrics(span_list, events, {1: (100.0, 104.0)}, cores=4)
    assert (m["operators.q1.wall_s"], m["operators.q1.jobs"]) == (2.0, 0)
    assert (m["operators.q2.wall_s"], m["operators.q2.jobs"]) == (1.0, 3)
    assert m["scheduler.span_cover_frac"] == 0.75


def test_per_layer_names_match_benchmark_json():
    import json
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
