"""Source readers: UCR format, random walk determinism."""

from pyspark.sql import functions as F

from sfa_spark.sources.synthetic import random_walk
from sfa_spark.sources.ucr import arrays_to_long, read_ucr


def test_read_ucr_formats(spark, tmp_path):
    p = tmp_path / "ucr.txt"
    p.write_text(
        "@header to skip\n"
        "1.0,0.5,0.6,0.7\n"
        "2.0 1.5 1.6 NaN 1.7\n"  # space-separated, NaN dropped
    )
    df = read_ucr(spark, str(p)).orderBy("label")
    rows = df.collect()
    assert [r["label"] for r in rows] == [1.0, 2.0]
    assert rows[0]["values"] == [0.5, 0.6, 0.7]
    assert rows[1]["values"] == [1.5, 1.6, 1.7]  # NaN removed
    long = arrays_to_long(df)
    assert long.where("n = 3").count() == 6


def test_random_walk_deterministic(spark):
    a = random_walk(spark, 2, 16, seed=5).orderBy("series_id", "pos").collect()
    b = random_walk(spark, 2, 16, seed=5).orderBy("series_id", "pos").collect()
    assert [r["value"] for r in a] == [r["value"] for r in b]
    assert len(a) == 32


def test_read_arff_multivariate(spark, tmp_path):
    from sfa_spark.sources.arff import read_arff_multivariate

    p = tmp_path / "mv.arff"
    p.write_text(
        "@relation test\n"
        "@attribute mts relational\n"
        "% comment\n"
        "'1.0,2.0,?\\n10.0,20.0,30.0',cylinder\n"
        "'4.0,5.0,6.0\\n40.0,50.0,60.0',bell\n"
        "'7.0,8.0,9.0\\n70.0,80.0,90.0',2.0\n"
    )
    mv, labels = read_arff_multivariate(spark, str(p))
    rows = {(r["series_id"], r["dim"]): r["values"] for r in mv.collect()}
    labs = {r["series_id"]: r["label"] for r in labels.collect()}
    sids = sorted(labs)
    assert rows[(sids[0], 0)] == [1.0, 2.0]  # '?' dropped
    assert rows[(sids[0], 1)] == [10.0, 20.0, 30.0]
    assert labs[sids[2]] == 2.0  # numeric label passes through
    # string classes mapped deterministically (sorted): bell=1, cylinder=2
    assert labs[sids[0]] == 2.0 and labs[sids[1]] == 1.0


def test_write_bucketed_elides_exchange(spark, tmp_path):
    """The PLANS.md 100 TB claim, executed: a table written bucketed
    by series_id plans groupBy, window, and co-bucketed self-join on
    that key with NO shuffle Exchange. Broadcast is disabled for the
    join leg so the planner can't sidestep the co-location proof."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sfa_spark.sources.sink import write_bucketed

    df = spark.range(0, 400).select(
        (F.col("id") % 20).alias("series_id"),
        F.col("id").alias("pos"),
        (F.col("id") * 7 % 13).cast("double").alias("value"),
    )
    t = write_bucketed(
        df, "bkt_events", "series_id", 8,
        sort_cols=["series_id", "pos"], path=str(tmp_path / "bkt"),
    )
    try:
        def final_plan(d):
            d.collect()
            return d._jdf.queryExecution().executedPlan().toString()

        agg = t.groupBy("series_id").agg(F.sum("value").alias("s"))
        p = final_plan(agg)
        assert "Exchange hashpartitioning" not in p, p

        w = Window.partitionBy("series_id").orderBy("pos")
        win = t.select("series_id", "pos", F.row_number().over(w).alias("rk"))
        p = final_plan(win)
        assert "Exchange hashpartitioning" not in p, p

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = t.alias("a").join(
                spark.table("bkt_events").alias("b"), "series_id"
            )
            p = final_plan(j)
            assert "Exchange" not in p, p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        # sanity: same answer as the unbucketed frame
        want = {
            (r["series_id"], r["s"])
            for r in df.groupBy("series_id").agg(F.sum("value").alias("s")).collect()
        }
        assert {(r["series_id"], r["s"]) for r in agg.collect()} == want
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_events")


def test_jsonl_quarantine_and_roundtrip(spark, tmp_path):
    """JSONL ingest: malformed lines land in the quarantine frame (not
    silently null-padded), clean rows parse typed, and a parquet→jsonl
    →parquet roundtrip preserves every document."""
    from pyspark.sql import functions as F

    from sfa_spark.sources.jsonl import read_documents_jsonl, write_jsonl

    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        'this is not json at all\n'
        '{"doc_id": "NOT_A_NUMBER", "text": "bad type", "lang": "en"}\n'
        '{"doc_id": 2, "text": "zweite zeile", "lang": "de"}\n'
    )
    clean, quarantine = read_documents_jsonl(spark, str(p))
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["lang"] == "de"
    bad = [r["raw"] for r in quarantine.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    assert any("NOT_A_NUMBER" in b for b in bad)

    # roundtrip: every (doc_id, text, lang) survives parquet→jsonl→read
    docs = spark.createDataFrame(
        [(i, f"document number {i}", "en") for i in range(50)],
        "doc_id bigint, text string, lang string",
    )
    out = tmp_path / "rt"
    write_jsonl(docs, str(out), n_files=3)
    back, q2 = read_documents_jsonl(spark, str(out))
    assert q2.count() == 0
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.select("doc_id", "text", "lang").collect())
    assert a == b


def test_zorder_layout_skips_on_every_dimension(spark, tmp_path):
    """Evidence from the actual parquet footers: with a Z-order layout
    every z-column's per-file min/max stays narrow, so a point
    predicate on ANY of them can skip most files; a single-column sort
    only ever skips on its sort column."""
    import glob

    import pyarrow.parquet as pq

    from sfa_spark.sources.sink import write_zordered

    df = (
        spark.range(0, 20000)
        .selectExpr(
            "cast(id % 141 as long) as x",
            "cast((id div 141) % 141 as long) as y",
            "id as payload",
        )
    )
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "linear")
    write_zordered(df, zdir, ["x", "y"], bits=8, n_cells=16)

    # NULL handling: rows with a NULL z-column go to the dedicated
    # zcell=-1 partition (not silently into the low corner cell), and
    # an all-NULL z-column fails loudly instead of TypeError-ing
    nulldir = str(tmp_path / "znull")
    dfn = df.unionByName(
        spark.createDataFrame(
            [(None, 5, 99999), (3, None, 99998)],
            "x long, y long, payload long",
        )
    )
    write_zordered(dfn, nulldir, ["x", "y"], bits=8, n_cells=16)
    back = spark.read.parquet(nulldir)
    assert back.where("zcell = -1").count() == 2
    assert back.where("zcell >= 0 and (x is null or y is null)").count() == 0
    import pytest as _pytest

    # ValueError (not assert): data-dependent validation must survive
    # python -O, which compiles bare asserts out
    with _pytest.raises(ValueError, match="entirely NULL"):
        write_zordered(
            spark.createDataFrame([(None, 1)], "x long, payload long"),
            str(tmp_path / "zbad"),
            ["x"],
        )
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.parquet(ldir)
    )

    def skip_fraction(d, col, probe):
        files = [f for f in glob.glob(f"{d}/**/*.parquet", recursive=True)]
        assert len(files) >= 6
        skipped = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            hit = False
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st.min <= probe <= st.max:
                    hit = True
            if not hit:
                skipped += 1
        return skipped / len(files)

    # a point predicate on either z-column prunes most files — the
    # cell-aligned split makes these fractions DETERMINISTIC (a 4×4
    # grid: a point hits 4 of 16 cells per axis → 0.75 skipped)
    assert skip_fraction(zdir, "x", 3) >= 0.7
    assert skip_fraction(zdir, "y", 3) >= 0.7
    # the linear layout prunes on its sort column but NOT on y
    assert skip_fraction(ldir, "x", 3) >= 0.5
    assert skip_fraction(ldir, "y", 3) == 0.0
    # layout changes nothing about the data itself
    assert (
        spark.read.parquet(zdir).agg({"payload": "sum"}).collect()[0][0]
        == df.agg({"payload": "sum"}).collect()[0][0]
    )


def test_compact_small_files_binpacks_and_preserves_data(spark, tmp_path):
    """64 tiny files → a handful of target-sized ones; rows, schema,
    and aggregates are bit-identical before and after; the swap is
    in-place and leaves no temp directories behind."""
    from sfa_spark.sources.maintenance import compact_small_files, dir_stats

    p = str(tmp_path / "frag")
    df = spark.range(0, 50000).selectExpr(
        "id", "cast(id % 97 as double) as v", "concat('u', id % 11) as u"
    )
    df.repartition(64).write.parquet(p)
    n_before, total = dir_stats(p)
    assert n_before == 64
    want = sorted(tuple(r) for r in df.collect())
    out = compact_small_files(spark, p, target_bytes=total // 4)
    n_after, total_after = dir_stats(p)
    assert n_after <= 6  # ceil(total / (total/4)) = 4, + writer rounding
    assert sorted(tuple(r) for r in out.collect()) == want
    assert not any(
        d.name.endswith(("_compact_next", "_compact_old"))
        for d in tmp_path.iterdir()
    )


def test_compact_small_files_repairs_crashed_swap(spark, tmp_path):
    """A compaction that died between the two renames (data stranded
    at *_compact_old, no live directory) is repaired automatically on
    the next run — no manual cleanup, no data loss."""
    import os

    from sfa_spark.sources.maintenance import compact_small_files

    p = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id", "id * 2 as v")
    df.repartition(8).write.parquet(p)
    want = sorted(tuple(r) for r in df.collect())
    # simulate the crash window: live dir renamed away, next never landed
    os.rename(p, p + "_compact_old")
    out = compact_small_files(spark, p, target_bytes=1 << 30)
    assert sorted(tuple(r) for r in out.collect()) == want
    assert os.path.exists(p)
    assert not os.path.exists(p + "_compact_old")
    assert not os.path.exists(p + "_compact_next")


def test_orc_roundtrip_preserves_unicode_and_schema(spark, tmp_path):
    from sfa_spark.sources.columnar import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, 'quote " and\nnewline'), (2, "unicode ümläut — ≤ ☃"), (3, None)],
        "id long, s string",
    )
    write_orc(df, str(tmp_path / "o"), n_files=2)
    back = read_orc(spark, str(tmp_path / "o"))
    assert back.schema == df.schema
    assert sorted((r["id"], r["s"]) for r in back.collect()) == sorted(
        (r["id"], r["s"]) for r in df.collect()
    )


def test_read_evolved_parquet_null_fills_old_files(spark, tmp_path):
    from sfa_spark.sources.columnar import read_evolved_parquet

    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(
        str(tmp_path / "v1")
    )
    spark.createDataFrame(
        [(2, "b", 0.5)], "id long, s string, q double"
    ).write.parquet(str(tmp_path / "v2"))
    m = read_evolved_parquet(
        spark, str(tmp_path / "v1"), str(tmp_path / "v2")
    )
    rows = {r["id"]: (r["s"], r["q"]) for r in m.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5)}


def test_series_arrays_from_events_matches_long_path(spark):
    """The direct events→arrays gather (r8 fast path: sort_array over
    (ts, event_id, value) structs, no row_number window) must be
    value-identical to series_to_arrays(series_from_events(...)) —
    including tie-breaking on duplicate ts within a series."""
    from sfa_spark.sources.events import (
        series_arrays_from_events,
        series_from_events,
        series_to_arrays,
    )

    rows = [
        # (user_id, ts, event_id, value) — user 1 has duplicate ts
        (1, 100, 7, 1.0),
        (1, 100, 3, 2.0),   # same ts, smaller event_id → earlier
        (1, 50, 9, 3.0),
        (2, 10, 1, 4.0),
        (2, 20, 2, 5.0),
        (2, 15, 8, 6.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, value double"
    )
    fast = {
        r["series_id"]: (r["values"], r["n"])
        for r in series_arrays_from_events(ev).collect()
    }
    slow = {
        r["series_id"]: (r["values"], r["n"])
        for r in series_to_arrays(series_from_events(ev)).collect()
    }
    assert fast == slow
    assert fast[1] == ([3.0, 2.0, 1.0], 3)  # ts order, event_id tiebreak


def test_spread_scan_under_split_scan_repartitions(spark, sf_dir):
    """A single-row-group parquet scan (one task) gets spread to
    defaultParallelism by a deterministic hash repartition; rows are
    unchanged."""
    from sfa_spark.sources.events import load_table, spread_scan

    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    spread = spread_scan(docs, "doc_id")
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert spread.count() == docs.count()
    a = {r["doc_id"] for r in docs.select("doc_id").collect()}
    b = {r["doc_id"] for r in spread.select("doc_id").collect()}
    assert a == b


def test_spread_scan_identity_when_parallel(spark, sf_dir):
    """The guard is the identity when the input already has enough
    partitions (the cluster-scale case)."""
    from sfa_spark.sources.events import load_table, spread_scan

    docs = load_table(spark, sf_dir, "documents")
    wide = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    assert spread_scan(wide, "doc_id") is wide


def test_spread_scan_rule_is_file_count_and_runs_no_job(spark, tmp_path):
    """spread_scan's rule is the input file count against
    defaultParallelism: a 1-file input is hash-repartitioned to
    defaultParallelism, an input of >= defaultParallelism files is left
    as it is, and deciding runs no Spark job either way."""
    from sfa_spark.sources.events import spread_scan

    sc = spark.sparkContext
    par = sc.defaultParallelism
    base = spark.range(400).select((F.col("id") % 40).alias("doc_id"), "id")
    base.coalesce(1).write.parquet(str(tmp_path / "one"))
    base.repartition(par).write.parquet(str(tmp_path / "many"))
    one = spark.read.parquet(str(tmp_path / "one"))
    many = spark.read.parquet(str(tmp_path / "many"))
    assert len(one.inputFiles()) == 1 and len(many.inputFiles()) >= par

    sc.setLocalProperty("spark.jobGroup.id", "spread-rule")
    try:
        spread_one = spread_scan(one, "doc_id")
        spread_many = spread_scan(many, "doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("spread-rule") == []
    assert spread_many is many
    assert spread_one.rdd.getNumPartitions() == par
    assert sorted(spread_one.collect()) == sorted(one.collect())
