"""Index vs brute force — the reference SFATrieTest invariant: indexed
k-NN distances equal linear-scan distances exactly."""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from sfa_spark.operators import sfa as SFA
from sfa_spark.plans.index import SFAIndex


def _znorm_rows(mat):
    m = mat - mat.mean(axis=1, keepdims=True)
    return m / m.std(axis=1, keepdims=True)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(21)
    walks = np.cumsum(rng.normal(0, 1, (120, 64)), axis=1)
    Z = _znorm_rows(walks)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(Z)],
        "series_id long, values array<double>",
    ).cache()
    return df, Z


def test_knn_equals_bruteforce(spark, corpus, tmp_path):
    df, Z = corpus
    idx = SFAIndex.build(
        df, str(tmp_path / "idx"), word_length=8, alphabet=8, prefix_len=2
    )
    queries = df.where(F.col("series_id") < 5)
    res = idx.knn(queries, k=3).collect()
    # brute force in numpy
    D = np.sqrt(((Z[:, None, :] - Z[None, :, :]) ** 2).sum(-1))
    got = {(r["q_id"], r["rk"]): (r["nn_id"], r["dist"]) for r in res}
    for qi in range(5):
        order = np.lexsort((np.arange(len(Z)), D[qi]))
        for rk in range(1, 4):
            nn, dist = got[(qi, rk)]
            assert dist == pytest.approx(D[qi, order[rk - 1]], abs=1e-9)
            assert nn == order[rk - 1]


def test_knn_self_is_rank1(spark, corpus, tmp_path):
    df, Z = corpus
    idx = SFAIndex.build(df, str(tmp_path / "idx2"), word_length=8, alphabet=8, prefix_len=1)
    res = idx.knn(df.where("series_id < 3"), k=1).collect()
    for r in res:
        assert r["nn_id"] == r["q_id"] and r["dist"] == pytest.approx(0.0, abs=1e-9)


def test_range_search_equals_bruteforce(spark, corpus, tmp_path):
    df, Z = corpus
    idx = SFAIndex.build(df, str(tmp_path / "idx3"), word_length=8, alphabet=8, prefix_len=2)
    eps = float(np.quantile(np.sqrt(((Z[0] - Z[1:]) ** 2).sum(-1)), 0.1))
    res = idx.range_search(df.where("series_id < 4"), epsilon=eps).collect()
    got = {(r["q_id"], r["nn_id"]) for r in res}
    D = np.sqrt(((Z[:, None, :] - Z[None, :, :]) ** 2).sum(-1))
    expected = {(qi, ci) for qi in range(4) for ci in range(len(Z)) if D[qi, ci] <= eps}
    assert got == expected


def test_summary_prunes(spark, corpus, tmp_path):
    """The box-LB must prune at least some prefixes for a tight query
    (sanity that the two-phase plan isn't a disguised full scan)."""
    df, Z = corpus
    path = str(tmp_path / "idx4")
    idx = SFAIndex.build(df, path, word_length=8, alphabet=8, prefix_len=2)
    n_prefixes = spark.read.parquet(f"{path}/summary").count()
    assert n_prefixes > 4  # corpus spreads over several buckets


def test_subsequence_index_finds_planted_motif(spark, tmp_path):
    """Plant a motif twice in a long series; querying with the motif
    must return both occurrences (reference subsequence matching)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(41)
    w = 32
    motif = np.sin(np.linspace(0, 4 * np.pi, w))
    series = rng.normal(0, 1, 400)
    series[50 : 50 + w] = motif
    series[300 : 300 + w] = motif
    long_df = spark.createDataFrame(
        [(0, i, float(v), 400) for i, v in enumerate(series)],
        "series_id long, pos long, value double, n long",
    )
    idx = SFAIndex.build_subsequence(
        long_df, window=w, path=str(tmp_path / "sub"), word_length=8,
        alphabet=8, prefix_len=1,
    )
    zm = (motif - motif.mean()) / motif.std()
    q = spark.createDataFrame(
        [(999, zm.tolist())], "series_id long, values array<double>"
    )
    res = idx.knn(q, k=2).collect()
    offsets = sorted(r["nn_id"] % (1 << 32) for r in res)
    assert offsets == [50, 300]
    assert all(r["dist"] < 1e-6 for r in res)


def test_subsequence_window_rows_chunked_matches_numpy(spark, plan_node_names):
    """The chunked Arrow window materialization must produce exactly
    one row per sliding window (no w× amplification), with per-window
    z-normalized values matching numpy, across chunk boundaries (small
    chunk_size forces multi-chunk), and plan WITHOUT an explode."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    w, cs = 16, 40
    lengths = {7: 100, 8: 41, 9: 15}  # multi-chunk, chunk+tail, too short
    rows = []
    expect = {}
    for sid, n in lengths.items():
        x = rng.normal(0, 1, n)
        rows += [(sid, i, float(v), n) for i, v in enumerate(x)]
        if n >= w:
            for s in range(n - w + 1):
                win = x[s : s + w]
                std = win.std()
                z = (win - win.mean()) / (std if std > 0 else 1.0)
                expect[sid * (1 << 32) + s] = z
    long_df = spark.createDataFrame(
        rows, "series_id long, pos long, value double, n long"
    )
    out = SFAIndex._subsequence_window_rows(long_df, w, chunk_size=cs)
    got = {r["series_id"]: np.asarray(r["values"]) for r in out.collect()}
    names = plan_node_names(out)
    assert "GenerateExec" not in names, names  # no explode anywhere
    assert set(got) == set(expect)  # exactly n-w+1 rows per series
    for k, z in expect.items():
        assert np.allclose(got[k], z, atol=1e-9), k


def test_sfa_lb_distance_property(spark, corpus, tmp_path):
    """SFAMinDistanceTest twin: the word-level SFA lower bound is ≤ the
    true Euclidean distance for every (query, candidate) pair."""
    import numpy as np

    from sfa_spark.functions.distances import sfa_lb_distance

    df, Z = corpus
    sub = df.where("series_id < 30")
    dfts = SFA.whole_dft(sub, 8)
    model = SFA.fit_whole(dfts, word_length=8, alphabet=8)
    rows = dfts.withColumn("syms", F.array(*SFA.symbols(model, "dft"))).collect()
    bins = {s: b.tolist() for s, b in model.bin_arrays.items()}
    dfts = {r["series_id"]: list(r["dft"]) for r in rows}
    syms = {r["series_id"]: list(r["syms"]) for r in rows}
    ids = sorted(dfts)
    assert len(ids) == 30
    for qi in ids[:10]:
        for ci in ids:
            lb = sfa_lb_distance(dfts[qi], syms[ci], bins)
            ed = float(np.sqrt(((Z[qi] - Z[ci]) ** 2).sum()))
            assert lb <= ed + 1e-6, (qi, ci, lb, ed)


def test_prefix_depth_invariance(spark, corpus, tmp_path):
    """SFABulkLoadTest twin: the index must answer identically no
    matter how the build partitioned it (prefix depth 1 vs 2 ≈ bulk
    chunking choices in the reference)."""
    df, Z = corpus
    q = df.where("series_id < 4")
    res = {}
    for d in (1, 2):
        idx = SFAIndex.build(
            df, str(tmp_path / f"depth{d}"), word_length=8, alphabet=8, prefix_len=d
        )
        res[d] = sorted(
            (r["q_id"], r["rk"], r["nn_id"], round(r["dist"], 9))
            for r in idx.knn(q, k=3).collect()
        )
    assert res[1] == res[2]


def test_out_of_distribution_query_falls_back_to_full_scan(spark, corpus, tmp_path):
    """A query whose SFA prefix bucket is EMPTY must still return the
    exact neighbors (phase-1 probe finds nothing → ub=∞ → phase 2
    scans all boxes)."""
    import numpy as np

    df, Z = corpus
    idx = SFAIndex.build(df, str(tmp_path / "ood"), word_length=8, alphabet=8, prefix_len=2)
    # extreme query far outside the corpus distribution
    q_vec = np.full(64, 0.0)
    q_vec[:32] = 50.0
    q_vec[32:] = -50.0
    q_vec = (q_vec - q_vec.mean()) / q_vec.std()
    q = spark.createDataFrame(
        [(777, q_vec.tolist())], "series_id long, values array<double>"
    )
    res = idx.knn(q, k=2).collect()
    D = np.sqrt(((Z - q_vec) ** 2).sum(axis=1))
    order = np.lexsort((np.arange(len(Z)), D))
    got = sorted((r["rk"], r["nn_id"]) for r in res)
    assert got == [(1, int(order[0])), (2, int(order[1]))]


def test_index_load_roundtrip(spark, corpus, tmp_path):
    """An index loaded from disk must answer exactly like the builder's
    in-memory handle (model bins + layout fully persisted)."""
    df, Z = corpus
    path = str(tmp_path / "persist")
    built = SFAIndex.build(df, path, word_length=8, alphabet=8, prefix_len=2)
    loaded = SFAIndex.load(path, prefix_len=2)
    q = df.where("series_id < 3")
    a = sorted(
        (r["q_id"], r["rk"], r["nn_id"], round(r["dist"], 9))
        for r in built.knn(q, k=3).collect()
    )
    b = sorted(
        (r["q_id"], r["rk"], r["nn_id"], round(r["dist"], 9))
        for r in loaded.knn(q, k=3).collect()
    )
    assert a == b


def test_knn_broadcasts_prefix_join(spark, corpus, tmp_path, plan_node_names):
    """knn broadcasts the query side into the prefix joins by hint, so
    the join stays a BroadcastHashJoin on the prefix columns even when
    autoBroadcastJoinThreshold=-1 turns off size-based broadcasts. The
    query side and the build's data rows are narrow projections: no
    shuffle, aggregate or join."""
    df, Z = corpus
    idx = SFAIndex.build(
        df, str(tmp_path / "idxbc"), word_length=8, alphabet=8, prefix_len=2
    )
    queries = df.where(F.col("series_id") < 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = idx.knn(queries, k=3)
        assert len(res.collect()) == 8 * 3
        names = plan_node_names(res)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # with size-based broadcasts off, only the hinted joins broadcast:
    # the two prefix equi-joins (the summary cross join is a nested loop)
    assert "BroadcastHashJoinExec" in names, names
    sides = {
        "query": idx._query_side(queries),
        "data": SFAIndex._prefix_rows(idx.model, SFA.whole_dft(df, 8), 2),
    }
    for side, frame in sides.items():
        names = plan_node_names(frame)
        assert "ShuffleExchangeExec" not in names, (side, names)
        assert not {n for n in names if "Join" in n or "Aggregate" in n}, (side, names)
    assert sides["query"].columns == ["q_id", "qvals", "qdft", "qp0", "qp1"]


def test_process_tmpdir_lives_until_exit(tmp_path):
    """Query scratch dirs (the index, streaming sources) stay while the
    process runs, since returned frames read them lazily, and are gone
    once it exits. Plain interpreter, no Spark, its own TMPDIR."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from sfa_spark.tempdirs import process_tmpdir\n"
        "p = process_tmpdir('sfa_index_')\n"
        "open(os.path.join(p, 'part'), 'w').write('x')\n"
        "print(p, os.path.isfile(os.path.join(p, 'part')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo, env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out[1] == "True"
    assert os.path.dirname(out[0]) == str(tmp_path)
    assert os.path.basename(out[0]).startswith("sfa_index_")
    assert os.listdir(tmp_path) == []


class _ExecutedPlans:
    """A QueryExecutionListener, through py4j: keeps the executed plan
    of every action the session finishes."""

    def __init__(self):
        self.plans = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.plans.append(qe.executedPlan())

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def test_build_runs_the_dft_once(spark, corpus, tmp_path, plan_node_names):
    """SFAIndex.build runs at most 6 jobs, and its executed plans, with
    the persisted DFT frame they read counted once, hold exactly one
    Python evaluation node: each series' DFT is computed once."""
    from pyspark.java_gateway import ensure_callback_server_started

    df, _ = corpus
    df.count()  # the fixture cache is not the build's work
    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    rec = _ExecutedPlans()
    listeners = spark._jsparkSession.listenerManager()
    listeners.register(rec)
    sc.setLocalProperty("spark.jobGroup.id", "index-build")
    try:
        SFAIndex.build(df, str(tmp_path / "once"), word_length=8, alphabet=8, prefix_len=2)
        jobs = sc.statusTracker().getJobIdsForGroup("index-build")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        listeners.unregister(rec)
    assert 0 < len(jobs) <= 6, jobs
    caches: set = set()
    names = sum((plan_node_names(p, caches) for p in rec.plans), Counter())
    assert names["ArrowEvalPythonExec"] + names["BatchEvalPythonExec"] == 1, names


def test_model_save_runs_no_job_and_load_round_trips(spark, corpus, tmp_path):
    """SFAModel.save writes from the driver, with no Spark job, and load
    gives back every field, the bins bit for bit: a whole-series model,
    a windowed sfa.fit model and a supervised model."""
    from sfa_spark.ml import grid

    df, _ = corpus
    labels = df.select("series_id", (F.col("series_id") % 2).cast("double").alias("label"))
    models = {
        "whole": SFA.fit_whole(SFA.whole_dft(df, 8), word_length=8, alphabet=8),
        "windowed": SFA.fit(df, window=16, word_length=4, alphabet=4),
        "supervised": grid.fit_supervised_sfa(df, labels, [(False, 16)], 4, 4)[(False, 16)],
    }
    assert models["supervised"].best_segs and models["supervised"].fit_l
    sc = spark.sparkContext

    def fields(m):
        out = dict(vars(m))
        out["bin_arrays"] = {s: [v.hex() for v in b] for s, b in m.bin_arrays.items()}
        return out

    for name, m in models.items():
        path = str(tmp_path / f"{name}.json")
        sc.setLocalProperty("spark.jobGroup.id", f"save-{name}")
        try:
            m.save(path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(f"save-{name}")) == 0, name
        assert fields(SFA.SFAModel.load(path)) == fields(m), name


@pytest.mark.parametrize("histogram", ["equi_width", "equi_depth"])
def test_build_rows_match_long_form(spark, tmp_path, histogram):
    """Every `data` and `summary` row of the index equals the long-form
    composition dft → coefs_to_long → quantize_with_bins, regathered
    per series and grouped by prefix, with bins fitted on that long
    form as quantize fits them (DFT values compared by float.hex), on
    random walks, a constant series and a series with a NaN value
    (null DFT values, symbol 0)."""
    import pandas as pd

    from sfa_spark.functions import spectral
    from sfa_spark.operators import quantize

    rng = np.random.default_rng(3)
    rows = [(i, np.cumsum(rng.normal(0, 1, 64)).tolist()) for i in range(40)]
    rows += [(60, [2.5] * 64), (70, [1.0, float("nan")] + rng.normal(0, 1, 62).tolist())]
    arrays = spark.createDataFrame(rows, "series_id long, values array<double>")
    path = str(tmp_path / histogram)
    idx = SFAIndex.build(arrays, path, word_length=8, alphabet=4, prefix_len=2,
                         histogram=histogram)

    long = spectral.coefs_to_long(spectral.dft(arrays, 8))
    rounded = long.withColumn("coef", F.round("coef", 2))
    fit = (
        quantize.fit_equi_width_bins(rounded, 4)
        if histogram == "equi_width"
        else quantize.fit_equi_depth_bins(rounded, 4)
    )
    want_bins = {r["seg"]: [v.hex() for v in r["bins"]] for r in fit.collect()}
    assert {s: [v.hex() for v in b] for s, b in idx.model.bin_arrays.items()} == want_bins
    bins = spark.createDataFrame(
        pd.DataFrame({"seg": list(idx.model.bin_arrays),
                      "bins": list(idx.model.bin_arrays.values())}),
        "seg int, bins array<double>",
    )
    per_series = quantize.quantize_with_bins(long, bins).groupBy("series_id").agg(
        F.transform(F.sort_array(F.collect_list(F.struct("seg", "coef"))),
                    lambda s: s["coef"]).alias("dft"),
        F.transform(F.sort_array(F.collect_list(F.struct("seg", "symbol"))),
                    lambda s: s["symbol"]).alias("syms"),
    )

    def hexes(vs):
        return [None if v is None else v.hex() for v in vs]

    want = {
        r["series_id"]: (r["syms"][0], r["syms"][1], hexes(r["dft"]), list(r["syms"]))
        for r in per_series.collect()
    }
    data = spark.read.parquet(f"{path}/data").collect()
    assert {
        r["series_id"]: (r["p0"], r["p1"], hexes(r["dft"]), list(r["syms"])) for r in data
    } == want
    assert want[70][2] == [None] * 8 and want[70][3] == [0] * 8

    boxes: dict = {}
    for p0, p1, dft, _ in want.values():
        boxes.setdefault((p0, p1), []).append([v and float.fromhex(v) for v in dft])

    def box(dfts, agg):
        cols = ([v for v in col if v is not None] for col in zip(*dfts))
        return hexes([agg(c) if c else None for c in cols])

    want_summary = {k: (box(d, min), box(d, max), len(d)) for k, d in boxes.items()}
    summary = spark.read.parquet(f"{path}/summary").collect()
    assert {
        (r["p0"], r["p1"]): (hexes(r["mins"]), hexes(r["maxs"]), r["cnt"]) for r in summary
    } == want_summary
