"""CLI `curate` golden: the composed recipe
(`toshokan_spark/pipeline.py`) over an ingested index must reproduce
the e2e chain's results (`tests/test_pipeline_e2e.py`) — same corpus,
same hazards, verified from the CLI report and the written parquet."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def curated(spark, tmp_path_factory):
    """Create + ingest the e2e corpus, run `curate` once with
    --output, return (report stdout lines, output dir)."""
    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog

    tmp = tmp_path_factory.mktemp("curate_cli")
    rows = []
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest tonight")
    rows.append({"doc_id": 0, "source": "web", "text": base + " café"})
    rows.append({"doc_id": 1, "source": "web",
                 "text": base + " café"})  # decomposed twin of 0
    rows.append({"doc_id": 2, "source": "web", "text": base + " café again"})
    rows.append({"doc_id": 3, "source": "web",
                 "text": "$$$ ### @@@ %%% ^^^ &&& *** $$$ ### @@@ %%% ^^^"})
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    for i in range(4, 44):
        src = "web" if i % 2 == 0 else "books"
        text = " ".join(words[(i + j) % len(words)] for j in range(30))
        rows.append({"doc_id": i, "source": src, "text": text + f" tail{i}"})
    jsonl = tmp / "corpus.jsonl"
    jsonl.write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    cfg = {
        "name": "curidx",
        "path": str(tmp / "data"),
        "schema": {"fields": [
            {"name": "doc_id", "type": "number"},
            {"name": "source", "type": "text"},
            {"name": "text", "type": "text"},
        ]},
    }
    cfg_path = tmp / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    cat_root = str(tmp / "cat")
    out_dir = str(tmp / "out")
    assert cli.main(["--catalog", cat_root, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat_root, "index", "curidx", str(jsonl)]) == 0
    return cat_root, out_dir


def test_curate_cli_report_and_outputs(spark, curated, capsys):
    from toshokan_spark import cli

    cat_root, out_dir = curated
    rc = cli.main([
        "--catalog", cat_root, "curate", "curidx",
        "--source-field", "source",
        "--fractions", "train=0.6,valid=0.2,test=0.2",
        "--seq-len", "64", "--tail-rate", "0.5",
        "--jaccard-threshold", "0.5",
        "--dsir-target", "doc_id:>3",
        "--output", out_dir,
    ])
    out = capsys.readouterr().out
    assert rc == 0, out
    report = {}
    for line in out.splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and line.startswith("  "):
            report[parts[0]] = parts[1]
    # stage counts mirror the e2e chain: 44 in, unicode twins converge
    # and exact dedup drops one of {0, 1}
    assert report["ingested"] == "44"
    assert report["canonicalized"] == "44"
    assert report["exact_kept"] == "43"
    assert "train" in report["split_sizes"]

    docs = spark.read.parquet(f"{out_dir}/documents")
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert 1 not in ids, "exact duplicate survived"
    assert 3 not in ids, "Gopher-failing symbol soup survived"
    # split sizes in the report match the written parquet
    sizes = {r["split"]: r["n"] for r in
             docs.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(sizes.values()) == docs.count()
    for name, n in sizes.items():
        assert f"'{name}': {n}" in report["split_sizes"]

    # leakage fence: if both near-dups 0 and 2 survived thinning they
    # must share a split (cluster-hashed assignment)
    split_of = {r.doc_id: r.split for r in docs.select("doc_id", "split").collect()}
    if 0 in ids and 2 in ids:
        assert split_of[0] == split_of[2]

    # DSIR ranking: off-target survivors (< 4) score below every
    # in-target (filler) survivor
    lw = {r.doc_id: r.log_weight for r in
          docs.select("doc_id", "log_weight").collect()}
    target_lws = [v for k, v in lw.items() if k >= 4]
    off_lws = [v for k, v in lw.items() if k < 4]
    if off_lws and target_lws:
        assert max(off_lws) < min(target_lws)

    # packed train sequences: gap-free contiguous per-source layout
    packed = spark.read.parquet(f"{out_dir}/packed")
    pos = {}
    for src, start, end in sorted(
        (r.source, r.start_tok, r.end_tok) for r in packed.collect()
    ):
        assert start == pos.get(src, 0), f"gap in {src} at {start}"
        pos[src] = end
    train_ids = {k for k, v in split_of.items() if v == "train"}
    assert {r.doc_id for r in packed.select("doc_id").collect()} == train_ids


def test_curate_cli_quality_model_gate(spark, curated, tmp_path, capsys):
    """--quality-model inserts the hashed-feature classifier stage:
    an all-positive dense model keeps everything (plumbing check,
    mirroring test_pipeline_e2e's classifier gate), and the stage
    count appears in the report."""
    from pyspark.sql import Row

    from toshokan_spark import cli

    cat_root, _ = curated
    model = str(tmp_path / "weights")
    spark.createDataFrame(
        [Row(idx=i, w=1.0) for i in range(1024)]
    ).write.parquet(model)
    rc = cli.main([
        "--catalog", cat_root, "curate", "curidx",
        "--source-field", "source",
        "--quality-model", model, "--quality-model-dim", "1024",
        "--tail-rate", "0.5", "--seq-len", "64",
    ])
    out = capsys.readouterr().out
    assert rc == 0, out
    report = {}
    for line in out.splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and line.startswith("  "):
            report[parts[0]] = parts[1]
    # all-positive model: classifier keeps exactly the Gopher output
    assert report["classifier_kept"] == report["quality_kept"]


def test_curate_cli_minhash_dedup_path(spark, curated, capsys):
    """--dedup-method minhash swaps the pair generator for the banded
    LSH path; the leakage fence must hold identically (0 and 2 share
    a split when both survive) and the stage chain still completes."""
    from toshokan_spark import cli

    cat_root, _ = curated
    rc = cli.main([
        "--catalog", cat_root, "curate", "curidx",
        "--source-field", "source",
        "--dedup-method", "minhash",
        "--jaccard-threshold", "0.5", "--tail-rate", "0.5",
        "--seq-len", "64",
    ])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "exact_kept" in out and "packed_rows" in out


def test_curate_checkpoints_every_stage(spark, curated):
    """Counter test (no wall clock): each curate stage is
    checkpointed, never persisted, so the pass leaves nothing in the
    CacheManager and every SQL execution plans (and prints) only its
    own stage — no plan carries a cached subtree of the pipeline
    above it."""
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.pipeline import curate

    cat_root, _ = curated
    jss = spark._jsparkSession
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = jss.sharedState().statusStore()

    def execution_ids():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    spark.catalog.clearCache()  # start from an empty CacheManager
    before = execution_ids()
    curate(spark, FsCatalog(cat_root), "curidx", source_field="source",
           dedup_method="minhash", tail_rate=0.5, seq_len=64)
    bus.waitUntilEmpty()
    assert jss.sharedState().cacheManager().isEmpty()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).executionId() not in before
    ]
    assert plans, "curate ran no SQL execution"
    assert not [p for p in plans if "InMemoryRelation" in p]
    assert max(len(p) for p in plans) < 64 * 1024


def test_curate_cli_repeat_and_curriculum(spark, curated, capsys):
    """--repeat-budget expands the train split per the mixture repeat
    plan and --curriculum-stages orders it easy-first; the packed
    stream is contiguous in curriculum position and every expanded
    instance is packed exactly once."""
    from toshokan_spark import cli

    cat_root, _ = curated
    out_dir = cat_root + "_repeat_out"
    rc = cli.main([
        "--catalog", cat_root, "curate", "curidx",
        "--source-field", "source",
        "--fractions", "train=0.6,valid=0.2,test=0.2",
        "--seq-len", "64", "--tail-rate", "0.5",
        "--repeat-budget", "4000",
        "--curriculum-stages", "3",
        "--output", out_dir,
    ])
    out = capsys.readouterr().out
    assert rc == 0, out
    report = {}
    for line in out.splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and line.startswith("  "):
            report[parts[0]] = parts[1]
    assert "expanded_rows" in report
    assert report["curriculum_stages"] == "3"

    packed = spark.read.parquet(f"{out_dir}/packed")
    # ordered by global curriculum position: one gap-free token
    # stream per source shard
    pos: dict = {}
    rows = sorted(
        (r["source"], r["position"], r["start_tok"], r["end_tok"])
        for r in packed.collect()
    )
    for src, _p, start, end in sorted(rows, key=lambda t: (t[0], t[2])):
        assert start == pos.get(src, 0), f"gap in {src} at {start}"
        pos[src] = end
    # expansion actually repeated something (budget 4000 >> train
    # token mass) and every instance packs exactly once
    n_packed = packed.count()
    assert int(report["expanded_rows"]) == n_packed
    assert int(report["packed_rows"]) == n_packed
    import re

    n_train = int(re.search(r"'train': (\d+)", report["split_sizes"]).group(1))
    assert n_packed > n_train, "no doc repeated despite the budget"
    assert n_packed == packed.select("position").distinct().count()


def test_search_cli_facets_and_histogram(spark, tmp_path, capsys):
    """The search subcommand's aggregation modes: --facet-by prints
    top facet rows (Decimal keys stringified), --histogram-interval
    prints epoch-aligned buckets over the index time_field."""
    import json as _json

    from toshokan_spark import cli

    rows = [
        {"timestamp": 1460530013, "tenant_id": 58, "body": "a"},
        {"timestamp": 1460530014, "tenant_id": 46, "body": "b"},
        {"timestamp": 1460533700, "tenant_id": 58, "body": "c"},
    ]
    jsonl = tmp_path / "logs.jsonl"
    jsonl.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    cfg = {
        "name": "aggidx",
        "path": str(tmp_path / "data"),
        "time_field": "timestamp",
        "schema": {"fields": [
            {"name": "timestamp", "type": "datetime",
             "formats": ["timestamp"], "fast": True},
            {"name": "tenant_id", "type": "number", "number_type": "u64"},
        ]},
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "aggidx", str(jsonl)]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "aggidx", "*",
                     "--facet-by", "tenant_id"]) == 0
    facets = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert facets == [
        {"tenant_id": "58", "n_hits": 2},
        {"tenant_id": "46", "n_hits": 1},
    ]

    assert cli.main(["--catalog", cat, "search", "aggidx", "tenant_id:>40",
                     "--histogram-interval", "3600"]) == 0
    hist = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert hist == [
        {"bucket_epoch": 1460527200, "n_hits": 2},
        {"bucket_epoch": 1460530800, "n_hits": 1},
    ]


def test_search_cli_stats_cardinality_top_hits(spark, tmp_path, capsys):
    """The round-9 aggregation flags: --stats-field prints the one-row
    stats panel, --cardinality-by exact+KMV, --top-hits-per the
    per-group top-k ordered by --order-by."""
    import json as _json

    from toshokan_spark import cli

    rows = [
        {"timestamp": 1460530013, "tenant_id": 58, "cost": 5.0},
        {"timestamp": 1460530014, "tenant_id": 46, "cost": 1.5},
        {"timestamp": 1460533700, "tenant_id": 58, "cost": 9.0},
    ]
    jsonl = tmp_path / "logs.jsonl"
    jsonl.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    cfg = {
        "name": "aggidx2",
        "path": str(tmp_path / "data"),
        "time_field": "timestamp",
        "schema": {"fields": [
            {"name": "timestamp", "type": "datetime",
             "formats": ["timestamp"], "fast": True},
            {"name": "tenant_id", "type": "number", "number_type": "u64"},
            {"name": "cost", "type": "number", "number_type": "f64"},
        ]},
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "aggidx2", str(jsonl)]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "aggidx2", "*",
                     "--stats-field", "cost"]) == 0
    (stats,) = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert stats == {"n_hits": 3, "n_values": 3, "min_v": 1.5,
                     "max_v": 9.0, "sum_v": 15.5,
                     "avg_v": 5.166667}

    assert cli.main(["--catalog", cat, "search", "aggidx2", "*",
                     "--cardinality-by", "tenant_id"]) == 0
    (card,) = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert card["distinct_exact"] == 2 and card["kmv_estimate"] == 2.0

    # --top-hits-per without --order-by is a usage error
    assert cli.main(["--catalog", cat, "search", "aggidx2", "*",
                     "--top-hits-per", "tenant_id"]) == 2
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "aggidx2", "*",
                     "--top-hits-per", "tenant_id",
                     "--order-by", "cost", "--top-k", "1"]) == 0
    tops = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    got = [(t["doc"]["tenant_id"], t["doc"]["cost"], t["rank_in_group"])
           for t in tops]
    assert got == [(46, 1.5, 1), (58, 9.0, 1)]
    # prettified docs: no internal columns leak into the panel
    assert all(not k.startswith("_") for t in tops for k in t["doc"])


def test_search_cli_extended_histogram_ranges_manifest(spark, tmp_path, capsys):
    """The remaining aggregation flags, plus the manifest fast path:
    a match-all --stats-field answers after the segment data files are
    deleted — the panel really is manifest-only."""
    import json as _json
    import shutil

    from toshokan_spark import cli

    rows = [
        {"timestamp": 1460530013, "tenant_id": 58, "cost": 5.0},
        {"timestamp": 1460530014, "tenant_id": 46, "cost": 1.5},
        {"timestamp": 1460533700, "tenant_id": 58, "cost": 9.0},
    ]
    jsonl = tmp_path / "logs.jsonl"
    jsonl.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    cfg = {
        "name": "aggidx3",
        "path": str(tmp_path / "data"),
        "time_field": "timestamp",
        "schema": {"fields": [
            {"name": "timestamp", "type": "datetime",
             "formats": ["timestamp"], "fast": True},
            {"name": "tenant_id", "type": "number", "number_type": "u64"},
            {"name": "cost", "type": "number", "number_type": "f64"},
        ]},
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "aggidx3", str(jsonl)]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "aggidx3", "*",
                     "--extended-stats-field", "cost"]) == 0
    (ext,) = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert ext["n_values"] == 3 and ext["sum_v"] == 15.5
    assert ext["sum_sq"] == 108.25  # 25 + 2.25 + 81
    # E[x^2] - E[x]^2 = 108.25/3 - (15.5/3)^2
    assert ext["variance_v"] == round(108.25 / 3 - (15.5 / 3) ** 2, 6)

    # numeric histogram requires a bin; then buckets by floor(v/4)*4
    assert cli.main(["--catalog", cat, "search", "aggidx3", "*",
                     "--histogram-field", "cost"]) == 2
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "search", "aggidx3", "*",
                     "--histogram-field", "cost", "--histogram-bin", "4"]) == 0
    hist = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [(h["bucket_lo"], h["n_hits"]) for h in hist] == [
        (0.0, 1), (4.0, 1), (8.0, 1),
    ]

    assert cli.main(["--catalog", cat, "search", "aggidx3", "*",
                     "--range-field", "cost", "--range-edges", "2,6"]) == 0
    rng = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [(r["bucket_idx"], r["n_hits"]) for r in rng] == [
        (0, 1), (1, 1), (2, 1),
    ]

    # manifest fast path: delete the data files; the match-all stats
    # panel still answers (zero data scans), and a non-match-all query
    # (which must scan) is what would now fail
    shutil.rmtree(tmp_path / "data")
    assert cli.main(["--catalog", cat, "search", "aggidx3", "*",
                     "--stats-field", "cost"]) == 0
    (stats,) = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert stats == {"n_hits": 3, "n_values": 3, "min_v": 1.5,
                     "max_v": 9.0, "sum_v": 15.5, "avg_v": 5.166667}


def test_search_cli_time_travel(spark, tmp_path, capsys):
    """--at-version runs the query against the retained manifest
    snapshot: after a second ingest, version 2 still answers with only
    the first batch; stats prints the retained version range."""
    import json as _json

    from toshokan_spark import cli

    jsonl = tmp_path / "logs.jsonl"
    jsonl.write_text(_json.dumps(
        {"timestamp": 1460530013, "tenant_id": 58}) + "\n")
    jsonl2 = tmp_path / "logs2.jsonl"
    jsonl2.write_text(_json.dumps(
        {"timestamp": 1460530014, "tenant_id": 46}) + "\n")
    cfg = {
        "name": "ttidx",
        "path": str(tmp_path / "data"),
        "time_field": "timestamp",
        "schema": {"fields": [
            {"name": "timestamp", "type": "datetime",
             "formats": ["timestamp"], "fast": True},
            {"name": "tenant_id", "type": "number", "number_type": "u64"},
        ]},
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "ttidx", str(jsonl)]) == 0
    assert cli.main(["--catalog", cat, "index", "ttidx", str(jsonl2)]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "stats", "ttidx"]) == 0
    head = capsys.readouterr().out.splitlines()[0]
    assert "2 segment(s), 2 row(s)" in head and "versions v1..v3" in head

    assert cli.main(["--catalog", cat, "search", "ttidx", "*",
                     "--limit", "10", "--at-version", "2"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [d["tenant_id"] for d in docs] == [58]

    assert cli.main(["--catalog", cat, "search", "ttidx", "*",
                     "--limit", "10"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == 2


def test_curate_cli_ensemble_gate(spark, tmp_path, capsys):
    """--ensemble-threshold inserts the rank-fusion gate: threshold 0
    keeps every quality survivor (gate is a no-op at the floor), a
    high threshold thins the set, and the stage count is reported."""
    import json as _json
    import re

    from toshokan_spark import cli

    rows = [
        {"doc_id": i,
         "text": ("alpha beta gamma delta epsilon zeta " * (1 + i % 5)
                  + ("spam " * 40 if i % 7 == 0 else "")).strip(),
         "source": f"s{i % 2}"}
        for i in range(24)
    ]
    jsonl = tmp_path / "docs.jsonl"
    jsonl.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    cfg = {
        "name": "ensidx",
        "path": str(tmp_path / "data"),
        "schema": {"fields": [
            {"name": "doc_id", "type": "number"},
            {"name": "text", "type": "text"},
            {"name": "source", "type": "text", "tokenizer": "raw"},
        ]},
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "ensidx", str(jsonl)]) == 0
    capsys.readouterr()

    def run(*extra):
        assert cli.main([
            "--catalog", cat, "curate", "ensidx",
            "--source-field", "source", "--seq-len", "32",
            *extra,
        ]) == 0
        out = capsys.readouterr().out
        return {
            m.group(1): int(m.group(2))
            for m in re.finditer(r"^  (\w+)\s+(\d+)$", out, re.M)
        }

    floor = run("--ensemble-threshold", "0")
    assert floor["ensemble_kept"] == floor["quality_kept"]
    thinned = run("--ensemble-threshold", "0.6")
    assert 0 < thinned["ensemble_kept"] < thinned["quality_kept"]


def test_delete_cli_lifecycle(spark, tmp_path, capsys):
    """delete records a tombstone (bad syntax fails fast), search masks
    immediately, stats reports it, merge materializes and clears."""
    import json as _json

    from toshokan_spark import cli

    rows = [{"id": i, "sev": "ERROR" if i % 2 else "INFO", "cost": float(i)}
            for i in range(6)]
    jsonl = tmp_path / "d.jsonl"
    jsonl.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    cfg = {"name": "dl", "path": str(tmp_path / "data"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"},
               {"name": "cost", "type": "number", "number_type": "f64"}]}}
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "dl", str(jsonl)]) == 0
    # second segment so merge has >= 2 inputs
    assert cli.main(["--catalog", cat, "index", "dl", str(jsonl)]) == 0
    capsys.readouterr()

    with pytest.raises(Exception):  # syntax error fails fast, no record
        cli.main(["--catalog", cat, "delete", "dl", "sev:[unclosed"])
    assert cli.main(["--catalog", cat, "delete", "dl", "sev:ERROR"]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "dl", "*",
                     "--limit", "20"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(docs) == 6 and all(d["sev"] == "INFO" for d in docs)

    assert cli.main(["--catalog", cat, "stats", "dl"]) == 0
    out = capsys.readouterr().out
    assert "1 pending delete(s)" in out and "sev:ERROR" in out

    assert cli.main(["--catalog", cat, "merge", "dl"]) == 0
    assert "(6 rows)" in capsys.readouterr().out
    assert cli.main(["--catalog", cat, "stats", "dl"]) == 0
    assert "pending" not in capsys.readouterr().out


def test_alter_cli_additive_schema_evolution(spark, tmp_path, capsys):
    """alter appends fields: old segments null-fill the new column at
    read (omitted from prettified docs), range queries on the new
    field match only new-schema rows, the stats panel falls back to a
    scan (old segments carry no additive stats for it), and any
    non-additive change is rejected."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.catalog import CatalogError

    base = {"name": "al", "path": str(tmp_path / "data"),
            "schema": {"fields": [
                {"name": "id", "type": "number"},
                {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    v2 = _json.loads(_json.dumps(base))
    v2["schema"]["fields"].append(
        {"name": "cost", "type": "number", "number_type": "f64"})
    bad = _json.loads(_json.dumps(base))
    bad["schema"]["fields"][0]["type"] = "text"
    for n, doc in (("v1", base), ("v2", v2), ("bad", bad)):
        (tmp_path / f"{n}.json").write_text(_json.dumps(doc))
    (tmp_path / "a.jsonl").write_text(
        _json.dumps({"id": 1, "sev": "INFO"}) + "\n")
    (tmp_path / "b.jsonl").write_text(
        _json.dumps({"id": 2, "sev": "WARN", "cost": 9.5}) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "v1.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "al",
                     str(tmp_path / "a.jsonl")]) == 0
    with pytest.raises(CatalogError, match="byte-identical"):
        cli.main(["--catalog", cat, "alter", str(tmp_path / "bad.json")])
    assert cli.main(["--catalog", cat, "alter",
                     str(tmp_path / "v2.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "al",
                     str(tmp_path / "b.jsonl")]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "al", "*",
                     "--limit", "10"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {d["id"]: d.get("cost") for d in docs} == {1: None, 2: 9.5}

    assert cli.main(["--catalog", cat, "search", "al", "cost:>5",
                     "--limit", "10"]) == 0
    hits = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [h["id"] for h in hits] == [2]

    assert cli.main(["--catalog", cat, "search", "al", "*",
                     "--stats-field", "cost"]) == 0
    (st,) = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert st["n_hits"] == 2 and st["n_values"] == 1 and st["sum_v"] == 9.5


def test_alias_cli_blue_green_swap(spark, tmp_path, capsys):
    """Aliases: every index-addressed command resolves them; an atomic
    re-point swaps which index readers hit (the zero-downtime reindex
    pattern); shadowing a real index or aliasing a missing one fails."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.catalog import CatalogError

    def mk(name, val):
        cfg = {"name": name, "path": str(tmp_path / "data" / name),
               "schema": {"fields": [{"name": "id", "type": "number"}]}}
        p = tmp_path / f"{name}.json"
        p.write_text(_json.dumps(cfg))
        j = tmp_path / f"{name}.jsonl"
        j.write_text(_json.dumps({"id": val}) + "\n")
        return p, j

    cat = str(tmp_path / "cat")
    for name, val in (("blue", 1), ("green", 2)):
        cfg, j = mk(name, val)
        assert cli.main(["--catalog", cat, "create", str(cfg)]) == 0
        assert cli.main(["--catalog", cat, "index", name, str(j)]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "alias", "live", "blue"]) == 0
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "search", "live", "*",
                     "--limit", "5"]) == 0
    assert _json.loads(capsys.readouterr().out)["id"] == 1

    # atomic re-point: same alias now serves the green index
    assert cli.main(["--catalog", cat, "alias", "live", "green"]) == 0
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "search", "live", "*",
                     "--limit", "5"]) == 0
    assert _json.loads(capsys.readouterr().out)["id"] == 2

    with pytest.raises(CatalogError, match="shadow"):
        cli.main(["--catalog", cat, "alias", "blue", "green"])
    with pytest.raises(CatalogError, match="unknown index"):
        cli.main(["--catalog", cat, "alias", "x", "missing"])
    assert cli.main(["--catalog", cat, "alias", "live", "--drop"]) == 0
    with pytest.raises(CatalogError):
        cli.main(["--catalog", cat, "search", "live", "*"])
    # dropping an index removes aliases that point at it (no dangling)
    assert cli.main(["--catalog", cat, "alias", "live", "green"]) == 0
    assert cli.main(["--catalog", cat, "drop", "green"]) == 0
    from toshokan_spark.catalog import FsCatalog as _FC

    assert "live" not in _FC(cat).aliases()


def test_reindex_cli_blue_green_with_deletes(spark, tmp_path, capsys):
    """The full zero-downtime rebuild: blue serves, a delete tombstone
    lands, green is created with an extra field, reindex copies only
    LIVE rows (the tombstone materializes into the copy), and the
    alias re-points readers atomically."""
    import json as _json

    from toshokan_spark import cli

    blue = {"name": "blue2", "path": str(tmp_path / "d" / "blue2"),
            "schema": {"fields": [
                {"name": "id", "type": "number"},
                {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    green = _json.loads(_json.dumps(blue))
    green["name"] = "green2"
    green["path"] = str(tmp_path / "d" / "green2")
    green["schema"]["fields"].append(
        {"name": "cost", "type": "number", "number_type": "f64"})
    (tmp_path / "blue.json").write_text(_json.dumps(blue))
    (tmp_path / "green.json").write_text(_json.dumps(green))
    rows = [{"id": 1, "sev": "INFO"}, {"id": 2, "sev": "ERROR"},
            {"id": 3, "sev": "INFO"}]
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")
    cat = str(tmp_path / "cat")
    for step in (["create", str(tmp_path / "blue.json")],
                 ["index", "blue2", str(tmp_path / "r.jsonl")],
                 ["alias", "live2", "blue2"],
                 ["delete", "blue2", "sev:ERROR"],
                 ["create", str(tmp_path / "green.json")],
                 ["reindex", "live2", "green2"],   # alias resolves src
                 ["alias", "live2", "green2"]):
        assert cli.main(["--catalog", cat] + step) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "live2", "*",
                     "--limit", "10"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    # the deleted ERROR row never reached green; green has NO tombstone
    assert sorted(d["id"] for d in docs) == [1, 3]
    from toshokan_spark.catalog import FsCatalog

    c = FsCatalog(cat)
    assert c.deletes("green2") == []
    # term search works on the carried shadow columns
    assert cli.main(["--catalog", cat, "search", "live2", "sev:INFO",
                     "--limit", "10"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == 2


def test_reindex_at_version_is_snapshot_restore(spark, tmp_path, capsys):
    """reindex --at-version materializes a time-travel read into a
    fresh index — the ES snapshot-restore analog: rows deleted AFTER
    the snapshot version come back in the copy."""
    import json as _json

    from toshokan_spark import cli

    src = {"name": "snapsrc", "path": str(tmp_path / "d" / "snapsrc"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    dst = _json.loads(_json.dumps(src))
    dst["name"] = "snapdst"
    dst["path"] = str(tmp_path / "d" / "snapdst")
    (tmp_path / "s.json").write_text(_json.dumps(src))
    (tmp_path / "t.json").write_text(_json.dumps(dst))
    rows = [{"id": 1, "sev": "INFO"}, {"id": 2, "sev": "ERROR"},
            {"id": 3, "sev": "INFO"}]
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")
    cat = str(tmp_path / "cat")
    for step in (["create", str(tmp_path / "s.json")],
                 ["index", "snapsrc", str(tmp_path / "r.jsonl")],
                 # version 2 == the post-ingest snapshot
                 ["delete", "snapsrc", "sev:ERROR"],
                 ["create", str(tmp_path / "t.json")],
                 ["reindex", "snapsrc", "snapdst", "--at-version", "2"]):
        assert cli.main(["--catalog", cat] + step) == 0
    capsys.readouterr()
    # the restore resurrects the row deleted after the snapshot
    assert cli.main(["--catalog", cat, "search", "snapdst", "*",
                     "--limit", "10"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert sorted(d["id"] for d in docs) == [1, 2, 3]
    # a plain reindex (head version) copies only live rows
    assert cli.main(["--catalog", cat, "drop", "snapdst"]) == 0
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "t.json")]) == 0
    assert cli.main(["--catalog", cat, "reindex", "snapsrc",
                     "snapdst"]) == 0
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "search", "snapdst", "*",
                     "--limit", "10"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert sorted(d["id"] for d in docs) == [1, 3]


def test_search_cli_sort_and_projection(spark, tmp_path, capsys):
    """--sort-by orders hits deterministically (asc default, :desc
    suffix); --fields projects the output AND prunes the scan schema;
    unknown projection fields fail fast."""
    import json as _json

    from toshokan_spark import cli

    rows = [{"id": 3, "sev": "b", "cost": 1.0},
            {"id": 1, "sev": "a", "cost": 9.0},
            {"id": 2, "sev": "c", "cost": 5.0}]
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")
    cfg = {"name": "srt", "path": str(tmp_path / "data"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"},
               {"name": "cost", "type": "number", "number_type": "f64"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "srt",
                     str(tmp_path / "r.jsonl")]) == 0
    capsys.readouterr()

    assert cli.main(["--catalog", cat, "search", "srt", "*", "--limit", "2",
                     "--sort-by", "cost:desc", "--fields", "id,cost"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert docs == [{"id": 1, "cost": 9.0}, {"id": 2, "cost": 5.0}]

    assert cli.main(["--catalog", cat, "search", "srt", "*", "--limit", "3",
                     "--sort-by", "id"]) == 0
    docs = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [d["id"] for d in docs] == [1, 2, 3]

    with pytest.raises(ValueError, match="unknown field"):
        cli.main(["--catalog", cat, "search", "srt", "*",
                  "--fields", "nope"])


def test_delete_cli_rejects_uncompilable_query(spark, tmp_path, capsys):
    """A tombstone that parses but cannot COMPILE against the schema
    must be rejected before recording — once manifested it would brick
    every read and merge of the index."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.query import CompileError

    cfg = {"name": "dcv", "path": str(tmp_path / "data"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "body", "type": "text"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(tmp_path / "c.json")]) == 0
    capsys.readouterr()
    # parses fine ('body.sub' is a dotted path) but body has no
    # sub-field -> compile error, nothing recorded
    with pytest.raises(CompileError):
        cli.main(["--catalog", cat, "delete", "dcv", "body.sub:1"])
    from toshokan_spark.catalog import FsCatalog

    assert FsCatalog(cat).deletes("dcv") == []


def test_ingest_and_create_respect_aliases(spark, tmp_path, capsys):
    """Ingest through an alias lands in the target index (resolution
    runs before EVERY index-addressed handler), and creating an index
    whose name is an existing alias is rejected — resolve() would
    shadow it forever."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.catalog import CatalogError, FsCatalog

    cfg = {"name": "tgt", "path": str(tmp_path / "data"),
           "schema": {"fields": [{"name": "id", "type": "number"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    (tmp_path / "r.jsonl").write_text(_json.dumps({"id": 1}) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "alias", "in", "tgt"]) == 0
    assert cli.main(["--catalog", cat, "index", "in",
                     str(tmp_path / "r.jsonl")]) == 0
    assert sum(s.num_rows for s in FsCatalog(cat).segments("tgt")) == 1

    shadow = {"name": "in", "path": str(tmp_path / "d2"),
              "schema": {"fields": [{"name": "id", "type": "number"}]}}
    (tmp_path / "s.json").write_text(_json.dumps(shadow))
    with pytest.raises(CatalogError, match="existing alias"):
        cli.main(["--catalog", cat, "create", str(tmp_path / "s.json")])


def test_fields_projection_nullfills_unscanned_schema_field(spark, tmp_path, capsys):
    """--fields on a field added by alter before any new-schema
    segment exists: the output carries an explicit null, not a silent
    drop."""
    import json as _json

    from toshokan_spark import cli

    base = {"name": "nf", "path": str(tmp_path / "data"),
            "schema": {"fields": [{"name": "id", "type": "number"}]}}
    v2 = _json.loads(_json.dumps(base))
    v2["schema"]["fields"].append(
        {"name": "score", "type": "number", "number_type": "f64"})
    (tmp_path / "v1.json").write_text(_json.dumps(base))
    (tmp_path / "v2.json").write_text(_json.dumps(v2))
    (tmp_path / "r.jsonl").write_text(_json.dumps({"id": 1}) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(tmp_path / "v1.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "nf",
                     str(tmp_path / "r.jsonl")]) == 0
    assert cli.main(["--catalog", cat, "alter", str(tmp_path / "v2.json")]) == 0
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "search", "nf", "*", "--limit", "5",
                     "--fields", "id,score"]) == 0
    (doc,) = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    # prettify omits nulls, so the doc shows id only — but the plan
    # resolved: no UNRESOLVED_COLUMN, and the id came through
    assert doc == {"id": 1}
    # querying the unscanned field matches nothing rather than erroring
    assert cli.main(["--catalog", cat, "search", "nf", "score:>0",
                     "--limit", "5"]) == 0
    assert capsys.readouterr().out.splitlines() == []


def test_cli_delete_validates_without_prior_session(tmp_path):
    """The delete command's fail-fast compile must work in a FRESH
    process (no SparkSession yet): a _dynamic-routed field builds
    Column expressions, which asserts on an active SparkContext —
    pre-fix this crashed with a bare AssertionError instead of
    recording the tombstone (verify-found r10). Subprocess on
    purpose: an in-process test inherits the suite's session and
    cannot reproduce the bug."""
    import json as _json
    import subprocess
    import sys

    cfg = {"name": "dv", "path": str(tmp_path / "data"),
           "schema": {"fields": [{"name": "id", "type": "number"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    (tmp_path / "r.jsonl").write_text(
        _json.dumps({"id": 1, "sev": "DEBUG"}) + "\n"
        + _json.dumps({"id": 2, "sev": "INFO"}) + "\n")
    cat = str(tmp_path / "cat")
    run = lambda *args: subprocess.run(
        [sys.executable, "-m", "toshokan_spark.cli", "--catalog", cat,
         *args],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run("create", str(tmp_path / "c.json")).returncode == 0
    assert run("index", "dv", str(tmp_path / "r.jsonl")).returncode == 0
    # ONE fresh process exercises validation with no prior session
    d = run("delete", "dv", "sev:DEBUG")
    assert d.returncode == 0, d.stderr[-2000:]
    assert "recorded delete" in d.stdout
    s = run("search", "dv", "*", "--limit", "5", "--fields", "id")
    assert d.returncode == 0
    assert [_json.loads(l)["id"] for l in s.stdout.splitlines()] == [2]


def test_url_front_gate(spark, tmp_path_factory, capsys):
    """--url-field: the domain blocklist drops whole sites and
    canonical-URL dedup keeps one first-writer per canonical form —
    BEFORE any text stage; the url field is undeclared and resolves
    from _dynamic. Docs with NO url key (null after _dynamic
    resolution) BYPASS the dedup — they are unknown provenance, not
    duplicates of each other (ADVICE r12: the naive gate pooled all
    nulls into one group and kept only the min-id doc)."""
    from toshokan_spark import cli

    tmp = tmp_path_factory.mktemp("curate_url")
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest tonight ")
    rows = []
    for i in range(12):
        rows.append({
            "doc_id": i, "source": "web",
            "text": base + f"tail{i} " + " ".join(
                f"w{(i + j) % 7}" for j in range(20)),
            # ids 0/1 collide post-canonicalization (www + tracking
            # params vs bare); ids 2-3 are on a blocked domain
            "url": (
                "https://WWW.keep.com/a?utm_source=x" if i == 0 else
                "https://keep.com/a" if i == 1 else
                f"https://bad.com/p{i}" if i in (2, 3) else
                f"https://ok{i}.org/page"
            ),
        })
    for i in (12, 13):  # no url key at all -> null through _dynamic
        rows.append({
            "doc_id": i, "source": "web",
            "text": base + f"tail{i} " + " ".join(
                f"w{(i + j) % 7}" for j in range(20)),
        })
    jsonl = tmp / "docs.jsonl"
    jsonl.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    cfg = {
        "name": "urlidx",
        "path": str(tmp / "data"),
        "schema": {"fields": [
            {"name": "doc_id", "type": "number", "number_type": "u64"},
            {"name": "source", "type": "text", "tokenizer": "raw"},
            {"name": "text", "type": "text"},
        ]},
    }
    cfg_path = tmp / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    cat = str(tmp / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "urlidx", str(jsonl)]) == 0
    capsys.readouterr()
    rc = cli.main([
        "--catalog", cat, "curate", "urlidx",
        "--url-field", "url", "--block-domains", "bad.com,unused.net",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    counts = {}
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 2 and parts[1].isdigit():
            counts[parts[0]] = int(parts[1])
    assert counts["ingested"] == 14
    assert counts["domain_kept"] == 12      # bad.com docs 2,3 dropped
    # doc 1 lost to keeper 0; BOTH null-url docs 12,13 survive
    assert counts["url_kept"] == 11


def test_train_quality_query_gate(spark, tmp_path_factory, capsys):
    """--train-quality-query: the in-pipeline DCLM loop — seed-query
    matches train the hashed classifier, and the gate keeps UNSEEDED
    documents with seed-like vocabulary (pseudo-label expansion)
    while dropping junk the model scored at zero evidence."""
    from toshokan_spark import cli

    tmp = tmp_path_factory.mktemp("curate_train")
    good = ("careful measured prose with varied useful vocabulary and "
            "clear structure that reads well throughout the page")
    junk = ("zz qq xx ww vv kk jj hh gg ff ee dd cc bb aa zz qq xx "
            "ww vv kk jj hh gg ff ee dd cc bb aa")
    rows = []
    for i in range(12):
        # 6 good docs, only the first 3 carry the seed marker; 6 junk
        marker = " seedmark" if i < 3 else ""
        text = (good + marker) if i < 6 else junk
        rows.append({"doc_id": i, "source": "web",
                     "text": text + f" tail{i}"})
    jsonl = tmp / "docs.jsonl"
    jsonl.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    cfg = {
        "name": "trainidx",
        "path": str(tmp / "data"),
        "schema": {"fields": [
            {"name": "doc_id", "type": "number", "number_type": "u64"},
            {"name": "source", "type": "text", "tokenizer": "raw"},
            {"name": "text", "type": "text"},
        ]},
    }
    cfg_path = tmp / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    cat = str(tmp / "cat")
    assert cli.main(["--catalog", cat, "create", str(cfg_path)]) == 0
    assert cli.main(["--catalog", cat, "index", "trainidx", str(jsonl)]) == 0
    capsys.readouterr()
    rc = cli.main([
        "--catalog", cat, "curate", "trainidx",
        "--train-quality-query", "text:seedmark",
        "--jaccard-threshold", "0.95",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    counts = {}
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 2 and parts[1].isdigit():
            counts[parts[0]] = int(parts[1])
    # all 6 good docs survive the trained gate (3 seeded + 3 expanded);
    # junk drops. Upstream gates may already have trimmed the pool, so
    # assert relative to the gate's input.
    assert counts["trained_classifier_kept"] <= counts["quality_kept"]
    assert counts["trained_classifier_kept"] == 6


def test_multi_index_pattern_search(spark, tmp_path, capsys):
    """ES index-pattern search: globs and comma lists fan out over
    matching indexes (each searched with its OWN config — private
    pruning, deletes, schemas), hits union with missing columns
    dropped per-schema and every row tagged _index; unknown exact
    names fail, empty glob matches return nothing."""
    import json as _json

    import pytest as _pytest

    from toshokan_spark import cli
    from toshokan_spark.catalog import CatalogError

    def mk(name, extra_field=False):
        cfg = {"name": name, "path": str(tmp_path / "d" / name),
               "schema": {"fields": [
                   {"name": "id", "type": "number"},
                   {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
        if extra_field:
            cfg["schema"]["fields"].append(
                {"name": "cost", "type": "number", "number_type": "f64"})
        p = tmp_path / f"{name}.json"
        p.write_text(_json.dumps(cfg))
        return str(p)

    cat = str(tmp_path / "cat")
    rows_a = [{"id": 1, "sev": "INFO"}, {"id": 2, "sev": "ERROR"}]
    rows_b = [{"id": 3, "sev": "INFO", "cost": 1.5}]
    rows_m = [{"id": 9, "sev": "INFO"}]
    (tmp_path / "a.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows_a) + "\n")
    (tmp_path / "b.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows_b) + "\n")
    (tmp_path / "m.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows_m) + "\n")
    for step in (["create", mk("logs-a")],
                 ["create", mk("logs-b", extra_field=True)],
                 ["create", mk("metrics")],
                 ["index", "logs-a", str(tmp_path / "a.jsonl")],
                 ["index", "logs-b", str(tmp_path / "b.jsonl")],
                 ["index", "metrics", str(tmp_path / "m.jsonl")],
                 ["delete", "logs-a", "sev:ERROR"]):
        assert cli.main(["--catalog", cat] + step) == 0
    capsys.readouterr()

    def run(pattern, query="*"):
        assert cli.main(["--catalog", cat, "search", pattern, query,
                         "--limit", "50"]) == 0
        return [_json.loads(l) for l in
                capsys.readouterr().out.strip().splitlines() if l]

    # glob: both logs indexes, per-index deletes applied, metrics out
    hits = run("logs-*")
    assert sorted((h["_index"], h["doc"]["id"]) for h in hits) == [
        ("logs-a", 1), ("logs-b", 3)]
    # per-schema output: logs-b rows carry cost, logs-a rows don't
    by_idx = {h["_index"]: h["doc"] for h in hits}
    assert "cost" in by_idx["logs-b"] and "cost" not in by_idx["logs-a"]
    # comma list mixes globs and exact names
    assert len(run("logs-*,metrics")) == 3
    # the query compiles per index against each schema
    assert [h["doc"]["id"] for h in run("logs-*,metrics", "sev:INFO")
            ] == [1, 3, 9]
    # a glob matching nothing is legal and empty
    assert run("nope-*") == []
    # an unknown EXACT name raises
    from toshokan_spark.search import expand_index_pattern
    from toshokan_spark.catalog import FsCatalog

    with _pytest.raises(CatalogError):
        expand_index_pattern(FsCatalog(cat), "missing-index")


def test_rollover_lifecycle(spark, tmp_path, capsys):
    """ES rollover through the CLI: below threshold nothing moves;
    past --max-docs the alias re-points to the next -NNNNNN
    generation with the same config; writers through the alias fill
    the new generation; the base-* pattern searches ALL generations;
    a second rollover increments the sequence."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog

    cfg = {"name": "logs-000001", "path": str(tmp_path / "d" / "logs-000001"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    rows = [{"id": i, "sev": "INFO"} for i in range(5)]
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")
    cat = str(tmp_path / "cat")
    for step in (["create", str(tmp_path / "c.json")],
                 ["index", "logs-000001", str(tmp_path / "r.jsonl")],
                 ["alias", "logs", "logs-000001"]):
        assert cli.main(["--catalog", cat] + step) == 0
    capsys.readouterr()

    # below threshold: no-op
    assert cli.main(["--catalog", cat, "rollover", "logs",
                     "--max-docs", "100"]) == 0
    assert "conditions not met" in capsys.readouterr().out
    c = FsCatalog(cat)
    assert c.resolve("logs") == "logs-000001"

    # past threshold: next generation, alias re-pointed, same schema
    assert cli.main(["--catalog", cat, "rollover", "logs",
                     "--max-docs", "5"]) == 0
    assert "logs-000001 -> logs-000002" in capsys.readouterr().out
    assert c.resolve("logs") == "logs-000002"
    assert {f.name for f in c.get_index("logs-000002").fields} == {
        "id", "sev"}

    # writers through the alias land in the new generation
    (tmp_path / "r2.jsonl").write_text(
        _json.dumps({"id": 100, "sev": "WARN"}) + "\n")
    assert cli.main(["--catalog", cat, "index", "logs",
                     str(tmp_path / "r2.jsonl")]) == 0
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "search", "logs-000002", "*",
                     "--limit", "10"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 1
    # the pattern search covers every generation
    assert cli.main(["--catalog", cat, "search", "logs-*", "*",
                     "--limit", "50"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 6

    # second rollover increments the sequence (1 doc >= max-docs 1)
    assert cli.main(["--catalog", cat, "rollover", "logs",
                     "--max-docs", "1"]) == 0
    assert "logs-000002 -> logs-000003" in capsys.readouterr().out


def test_rollover_bare_index_rejected_early(spark, tmp_path, capsys):
    """Rolling over a bare INDEX name (not an alias) must fail
    before creating anything: the new generation could never be
    adopted (set_alias may not shadow an existing index name), so
    the old behavior left an orphan -000002 index behind and every
    rerun failed identically (ADVICE r13). ES likewise requires
    rollover targets to be aliases."""
    import json as _json

    import pytest as _pytest

    from toshokan_spark import cli
    from toshokan_spark.catalog import CatalogError, FsCatalog
    from toshokan_spark.maintenance import rollover

    cfg = {"name": "solo-000001",
           "path": str(tmp_path / "d" / "solo-000001"),
           "schema": {"fields": [{"name": "id", "type": "number"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps({"id": i}) for i in range(3)) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "solo-000001",
                     str(tmp_path / "r.jsonl")]) == 0
    c = FsCatalog(cat)
    with _pytest.raises(CatalogError, match="requires an alias"):
        rollover(c, "solo-000001", max_docs=1)
    # no orphan generation was created
    assert "solo-000002" not in c.list_indexes()
    # a truly unknown name still reports not-found, not the alias hint
    with _pytest.raises(CatalogError, match="no such alias or index"):
        rollover(c, "ghost", max_docs=1)


def test_multi_index_pattern_rejects_panel_flags(spark, tmp_path, capsys):
    """Index-pattern search returns plain hits only; combining a
    pattern with a panel/score/sort/slice flag must ERROR instead of
    silently printing hits as if the aggregation ran (ADVICE r13).
    And per-index manifest versions make a shared --at-version
    meaningless across 2+ indexes — that raises too."""
    import json as _json

    import pytest as _pytest

    from toshokan_spark import cli

    cat = str(tmp_path / "cat")
    for n in ("ml-a", "ml-b"):
        cfg = {"name": n, "path": str(tmp_path / "d" / n),
               "schema": {"fields": [{"name": "id", "type": "number"}]}}
        p = tmp_path / f"{n}.json"
        p.write_text(_json.dumps(cfg))
        assert cli.main(["--catalog", cat, "create", str(p)]) == 0
        r = tmp_path / f"{n}.jsonl"
        r.write_text(_json.dumps({"id": 1}) + "\n")
        assert cli.main(["--catalog", cat, "index", n, str(r)]) == 0
    capsys.readouterr()
    rc = cli.main(["--catalog", cat, "search", "ml-*", "*",
                   "--facet-by", "id"])
    captured = capsys.readouterr()
    assert rc == 2
    assert "plain hits only" in captured.err
    assert "--facet-by" in captured.err

    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.search import multi_search_df

    with _pytest.raises(ValueError, match="per-index version"):
        multi_search_df(spark, FsCatalog(cat), "ml-*", "*", at_version=1)
    # the CLI wraps that ValueError in its error convention — message
    # to stderr + exit 2, never a traceback (ADVICE r14)
    rc = cli.main(["--catalog", cat, "search", "ml-*", "*",
                   "--at-version", "1"])
    captured = capsys.readouterr()
    assert rc == 2
    assert captured.err.startswith("error:")
    assert "per-index version" in captured.err
    # single-index pattern + at_version stays legal (version 2 is
    # the post-ingest manifest; version 1 is the empty created state)
    df, names = multi_search_df(
        spark, FsCatalog(cat), "ml-a", "*", at_version=2)
    assert names == ["ml-a"] and df.count() == 1


def test_count_and_validate_commands(spark, tmp_path, capsys):
    """ES _count: match-all answers from the manifest alone; filters
    and pending tombstones take the scan path. ES _validate/query:
    parse-only with the dynamic-routing note, errors exit 1."""
    import json as _json

    from toshokan_spark import cli

    cfg = {"name": "cnt", "path": str(tmp_path / "d" / "cnt"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    rows = [{"id": i, "sev": "INFO" if i % 2 else "DEBUG"}
            for i in range(6)]
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "cnt",
                     str(tmp_path / "r.jsonl")]) == 0
    capsys.readouterr()

    def one(argv):
        assert cli.main(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    d = one(["--catalog", cat, "count", "cnt"])
    assert d == {"count": 6, "source": "manifest"}
    d = one(["--catalog", cat, "count", "cnt", "sev:INFO"])
    assert d == {"count": 3, "source": "scan"}
    # pending tombstones force even match-all onto the scan path
    assert cli.main(["--catalog", cat, "delete", "cnt", "sev:DEBUG"]) == 0
    capsys.readouterr()
    d = one(["--catalog", cat, "count", "cnt"])
    assert d == {"count": 3, "source": "scan"}

    d = one(["--catalog", cat, "validate", "cnt", "sev:INFO AND body:x"])
    assert d["valid"] and d["dynamic_routed_fields"] == ["body"]
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "validate", "cnt", "sev:("]) == 1
    out = _json.loads(capsys.readouterr().out.strip())
    assert out["valid"] is False and "error" in out


def test_cli_manifest_commands_read_one_version(spark, tmp_path, capsys,
                                               monkeypatch):
    """`stats`, `list`, `count` and `explain` answer from ONE manifest
    snapshot: a delete committed by another writer right after the
    command's first manifest read must not make a later read see the
    newer version (the count fast path would sum a newer version's
    segments as if nothing were pending)."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog

    cfg = {"name": "one", "path": str(tmp_path / "d" / "one"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    (tmp_path / "r.jsonl").write_text("".join(
        _json.dumps({"id": i, "sev": "INFO" if i % 2 else "DEBUG"}) + "\n"
        for i in range(6)))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create", str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "one",
                     str(tmp_path / "r.jsonl")]) == 0

    real_snapshot = FsCatalog.snapshot
    read = []

    def racing_snapshot(self, name, at_version=None):
        snap = real_snapshot(self, name, at_version)
        read.append(snap[0])
        if len(read) == 1:  # a concurrent writer commits a delete
            FsCatalog(cat).add_delete("one", "sev:DEBUG")
        return snap

    monkeypatch.setattr(FsCatalog, "snapshot", racing_snapshot)
    # count first: every command's first read is followed by a delete,
    # so only count sees a version without pending deletes
    for argv in (["count", "one"], ["stats", "one"], ["list"],
                 ["explain", "one", "*"]):
        read.clear()
        capsys.readouterr()
        assert cli.main(["--catalog", cat, *argv]) == 0
        out = capsys.readouterr().out
        assert len(set(read)) == 1, (argv, read)
        if argv[0] == "count":
            assert _json.loads(out.strip().splitlines()[-1]) == {
                "count": 6, "source": "manifest"}


def test_analyze_fields_msearch_commands(spark, tmp_path, capsys):
    """ES _analyze / _field_caps / _msearch through the CLI: tokens
    via the REAL tokenizer expressions (field-routed or explicit),
    per-field capability lines incl. commit-time stats presence, and
    a query batch in one session with per-line error isolation."""
    import json as _json

    from toshokan_spark import cli

    cfg = {"name": "caps", "path": str(tmp_path / "d" / "caps"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "body", "type": "text", "tokenizer": "en_stem"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "body": f"running fast {i}"})
                  for i in range(4)) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "caps",
                     str(tmp_path / "r.jsonl")]) == 0
    capsys.readouterr()

    def lines(argv, rc=0):
        assert cli.main(argv) == rc
        return [_json.loads(l) for l in
                capsys.readouterr().out.strip().splitlines() if l]

    # field-routed analyze uses the field's en_stem tokenizer
    d = lines(["--catalog", cat, "analyze", "caps", "body",
               "Running QUICKLY"])[0]
    assert d == {"tokenizer": "en_stem", "tokens": ["run", "quick"]}
    d = lines(["--catalog", cat, "analyze", "caps", "Keep-Going",
               "--tokenizer", "whitespace"])[0]
    assert d["tokens"] == ["Keep-Going"]
    assert cli.main(["--catalog", cat, "analyze", "caps", "nofield"]) == 2
    capsys.readouterr()

    rows = lines(["--catalog", cat, "fields", "caps"])
    by = {r["field"]: r for r in rows}
    assert by["body"]["tokenizer"] == "en_stem"
    assert by["body"]["stats"] is True   # commit-time stats written
    assert by["_dynamic"]["type"] == "dynamic_object"

    (tmp_path / "q.txt").write_text(
        'id:>=2\n{"query": "body:running", "limit": 3}\nbroken:(\n')
    rows = lines(["--catalog", cat, "msearch", "caps",
                  str(tmp_path / "q.txt"), "--limit", "1"])
    byq = {}
    for r in rows:
        byq.setdefault(r["q"], []).append(r)
    assert len(byq[0]) == 1            # plain line takes --limit
    assert len(byq[1]) == 3            # JSON line overrides limit
    assert "error" in byq[2][0]        # parse error isolated per line


def test_concurrent_percolator_registrations_both_survive(spark, tmp_path):
    """Review-fix proof: registrations of DIFFERENT monitors touch
    different files, so two concurrent writers can never lose each
    other's update (the old shared-JSON read-modify-write could)."""
    import json as _json
    import threading

    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog

    cfg = {"name": "conc", "path": str(tmp_path / "d" / "conc"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    c = FsCatalog(cat)

    n, per = 8, 5
    errs = []

    def worker(w):
        try:
            for i in range(per):
                c.register_percolator("conc", f"m{w}_{i}", f"id:>{w * 10 + i}")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    got = c.percolators("conc")
    assert len(got) == n * per, f"lost registrations: {n*per - len(got)}"
    # re-registration REPLACES (ES PUT semantics)
    c.register_percolator("conc", "m0_0", "id:>999")
    assert c.percolators("conc")["m0_0"] == "id:>999"


def test_percolator_registration_warns_without_session(
        spark, tmp_path, monkeypatch):
    """A session-less (library) registration can only syntax-check
    the monitor — the schema compilation the docstring promises needs
    a JVM. That downgrade must be LOUD (ADVICE r14): silent
    syntax-only acceptance lets an uncompilable monitor through to
    halt the first percolation or the ingest stream carrying it."""
    import json as _json
    import warnings as _warnings

    from pyspark.sql import SparkSession

    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog

    cfg = {"name": "warny", "path": str(tmp_path / "d" / "warny"),
           "schema": {"fields": [{"name": "id", "type": "number"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    c = FsCatalog(cat)
    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        c.register_percolator("warny", "m1", "id:>5")
    assert any("compilation SKIPPED" in str(w.message) for w in caught)
    # with the session visible again, full compilation runs silently
    monkeypatch.undo()
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        c.register_percolator("warny", "m2", "id:>6")
    assert not [w for w in caught if "SKIPPED" in str(w.message)]


def test_snapshot_restore_across_catalogs(spark, tmp_path, capsys):
    """ES snapshot/restore to a repository: the snapshot directory is
    self-contained (config + manifest metadata + pending deletes +
    segment data + stats parquets) and restores into a DIFFERENT
    catalog under a new name with delete masks, manifest-stats fast
    paths, and time-partition pruning intact."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog

    cfg = {"name": "src", "path": str(tmp_path / "d" / "src"),
           "time_field": "ts",
           "schema": {"fields": [
               {"name": "ts", "type": "datetime", "formats": ["timestamp"],
                "fast": True},
               {"name": "n", "type": "number", "number_type": "u64"},
               {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    rows = [{"ts": 1716822728 + i * 86400, "n": i,
             "sev": "INFO" if i % 2 else "DEBUG"} for i in range(6)]
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "src",
                     str(tmp_path / "r.jsonl")]) == 0
    assert cli.main(["--catalog", cat, "delete", "src", "sev:DEBUG"]) == 0
    assert cli.main(["--catalog", cat, "snapshot", "src",
                     str(tmp_path / "snap")]) == 0
    capsys.readouterr()

    cat2 = str(tmp_path / "cat2")
    assert cli.main(["--catalog", cat2, "restore", str(tmp_path / "snap"),
                     "--as", "copy", "--path",
                     str(tmp_path / "d2" / "copy")]) == 0
    capsys.readouterr()
    c2 = FsCatalog(cat2)
    segs = c2.segments("copy")
    assert len(segs) == 1 and segs[0].num_rows == 6
    # manifest metadata (zone maps, day ranges) transferred verbatim
    assert segs[0].min_day is not None
    assert segs[0].field_stats and "n" in segs[0].field_stats
    # pending delete restored: DEBUG rows masked
    assert cli.main(["--catalog", cat2, "count", "copy"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"count": 3, "source": "scan"}
    # search + time pruning still work on the restored index
    assert cli.main(["--catalog", cat2, "search", "copy", "sev:INFO",
                     "--limit", "10"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 3
    # a non-snapshot dir errors cleanly
    assert cli.main(["--catalog", cat2, "restore", str(tmp_path)]) == 2
    capsys.readouterr()
    # audit parity (ADVICE r14): the restored tombstone is the STORED
    # entry verbatim — same id and created_at_ms as the source
    # catalog's, not a freshly minted one
    src_dels = FsCatalog(cat).deletes("src")
    copy_dels = c2.deletes("copy")
    assert [(d.id, d.created_at_ms, d.query) for d in src_dels] == [
        (d.id, d.created_at_ms, d.query) for d in copy_dels]
    # idempotent retry (ADVICE r14): a restore into a FRESH catalog
    # but the SAME data path (the leftover of a partially failed
    # attempt) must overwrite the stale segment dirs, not die on them
    cat3 = str(tmp_path / "cat3")
    assert cli.main(["--catalog", cat3, "restore", str(tmp_path / "snap"),
                     "--as", "copy", "--path",
                     str(tmp_path / "d2" / "copy")]) == 0
    capsys.readouterr()
    assert FsCatalog(cat3).segments("copy")[0].num_rows == 6
    # idempotent retry into the SAME catalog (ADVICE r15): the index
    # already exists with the snapshot's exact config — the retry
    # resumes instead of dying on "already exists", and skips the
    # already-committed segments/tombstones (no duplicates)
    assert cli.main(["--catalog", cat3, "restore", str(tmp_path / "snap"),
                     "--as", "copy", "--path",
                     str(tmp_path / "d2" / "copy")]) == 0
    capsys.readouterr()
    assert len(FsCatalog(cat3).segments("copy")) == 1
    assert len(FsCatalog(cat3).deletes("copy")) == 1
    # ...but a name held by a DIFFERENT config refuses (the name is
    # taken by something else, not a partial restore)
    assert cli.main(["--catalog", cat2, "restore", str(tmp_path / "snap"),
                     "--as", "src2", "--path",
                     str(tmp_path / "d2" / "copy")]) == 0
    capsys.readouterr()
    assert cli.main(["--catalog", cat2, "restore", str(tmp_path / "snap"),
                     "--as", "copy"]) == 2  # copy exists, path differs
    err = capsys.readouterr()
    assert "different config" in (err.err + err.out)


def test_verify_index_fsck(spark, tmp_path, capsys):
    """verify: a healthy index reports healthy; deleting a segment's
    data, planting an orphan seg dir, and corrupting a manifest row
    count each surface as typed findings with exit 1."""
    import json as _json
    import os
    import shutil

    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog

    cfg = {"name": "fsck", "path": str(tmp_path / "d" / "fsck"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "body", "type": "text"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    (tmp_path / "r.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "body": f"doc {i}"})
                  for i in range(5)) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "fsck",
                     str(tmp_path / "r.jsonl")]) == 0
    capsys.readouterr()
    assert cli.main(["--catalog", cat, "verify", "fsck"]) == 0
    out = [_json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert out == [{"index": "fsck", "healthy": True}]

    # plant an orphan directory (crash leftover)
    os.makedirs(tmp_path / "d" / "fsck" / "seg-orphan0001")
    # corrupt the manifest row count of the real segment
    c = FsCatalog(cat)
    seg = c.segments("fsck")[0]
    import glob as _glob
    mpath = sorted(_glob.glob(str(tmp_path / "cat" / "manifests" /
                                  "fsck" / "v*.json")))[-1]
    doc = _json.loads(open(mpath).read())
    doc["segments"][0]["num_rows"] = 99
    open(mpath, "w").write(_json.dumps(doc))
    assert cli.main(["--catalog", cat, "verify", "fsck"]) == 1
    kinds = {f["kind"] for f in
             (_json.loads(l) for l in
              capsys.readouterr().out.strip().splitlines())}
    assert kinds == {"row_count_mismatch", "orphan_segment"}

    # delete the data dir entirely -> missing_segment (and the check
    # without row counts still catches it, Spark-free)
    shutil.rmtree(tmp_path / "d" / "fsck" / seg.file_name)
    assert cli.main(["--catalog", cat, "verify", "fsck",
                     "--no-count"]) == 1
    kinds = {f["kind"] for f in
             (_json.loads(l) for l in
              capsys.readouterr().out.strip().splitlines())}
    assert "missing_segment" in kinds
