"""Oracles for the ML-layer queries.

r4: the end-to-end classifier predicts are now SQL too — the full
chains compose techniques each already proven elsewhere (trig-sum MFT,
reference equi-depth scan, 2-bit word pack, bag counting, division-form
tf-idf, bigint 1-NN, weighted vote). r6: WEASEL/MUSE predicts carry
surrogate oracles over their exported decision artifacts
(_PREDICT_INVARIANTS below) — no registered query is rows-only.
"""

from __future__ import annotations

from sfa_spark.oracles import SERIES

ORACLES: dict[str, str] = {}


def _sfa_bag_ctes(
    w: int,
    n_ks: int,
    k_lo: int,
    corp_filter: str = "n >= 32",
    train_pred: str = "series_id % 5 <> 0",
) -> str:
    """CTE chain: fit reference equi-depth bins (alphabet 4) on the 2-dp
    orderline of DISJOINT train chunks, then sliding words + numerosity
    reduction + bag for ALL corpus series. k_lo=0 ⇒ norm_mean=False
    (seg0 = DC, seg1 = the zeroed packed slot — Σ value·sin(0) = 0, so
    the generic trig sum already matches); k_lo=1 ⇒ norm_mean=True.
    Mirrors sfa.fit + sfa.transform_windowing + bags (operators/sfa.py
    fit, SFAModel.word_kernel, transform_windowing; reference
    SFA.java:260-338,402,436-450). The engine quantizes with
    searchsorted over each window's value row inside one Arrow UDF;
    the per-(window, seg) count of boundaries <= value here is the
    same symbol."""
    return f"""{SERIES},
corp AS (SELECT * FROM series WHERE {corp_filter}),
ks AS (SELECT unnest(generate_series({k_lo}, {k_lo + n_ks - 1})) AS k),
chunk AS (
  SELECT series_id, CAST(floor(pos / {w}) AS BIGINT) AS ci,
         pos % {w} AS poff, value
  FROM corp WHERE {train_pred} AND pos < n - (n % {w})
),
cstat AS (
  SELECT series_id, ci, stddev_pop(value) AS sd FROM chunk GROUP BY 1, 2
),
cterm AS (
  SELECT c.series_id, c.ci, k.k,
         sum(c.value * cos(2 * pi() * k.k * c.poff / {w})) AS re,
         sum(c.value * sin(2 * pi() * k.k * c.poff / {w})) AS im
  FROM chunk c CROSS JOIN ks k GROUP BY 1, 2, 3
),
cnorm AS (
  SELECT t.series_id, t.ci, t.k,
         t.re * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt({w}) AS re,
         t.im * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt({w}) AS im
  FROM cterm t JOIN cstat s USING (series_id, ci)
),
orderline AS (
  SELECT CAST(2 * (k - {k_lo}) AS INT) AS seg, round(re, 2) AS coef FROM cnorm
  UNION ALL
  SELECT CAST(2 * (k - {k_lo}) + 1 AS INT) AS seg, round(im, 2) AS coef FROM cnorm
),
ranked AS (
  SELECT seg, coef, row_number() OVER (PARTITION BY seg ORDER BY coef) AS rn,
         count(*) OVER (PARTITION BY seg) AS cnt
  FROM orderline
),
b1 AS (SELECT seg, min(coef) AS b FROM ranked WHERE rn > ceil(cnt / 4.0 * 1) GROUP BY seg),
b2 AS (SELECT r.seg, min(r.coef) AS b FROM ranked r JOIN b1 USING (seg)
       WHERE r.rn > ceil(r.cnt / 4.0 * 2) AND r.coef > b1.b GROUP BY r.seg),
b3 AS (SELECT r.seg, min(r.coef) AS b FROM ranked r JOIN b2 USING (seg)
       WHERE r.rn > ceil(r.cnt / 4.0 * 3) AND r.coef > b2.b GROUP BY r.seg),
bins AS (
  SELECT DISTINCT r.seg, b1.b AS bv1, b2.b AS bv2, b3.b AS bv3
  FROM ranked r LEFT JOIN b1 USING (seg) LEFT JOIN b2 USING (seg)
       LEFT JOIN b3 USING (seg)
),
swin AS (
  SELECT series_id, pos, value, n,
         unnest(generate_series(greatest(pos - {w - 1}, 0), least(pos, n - {w}))) AS win
  FROM corp
),
wstat AS (
  SELECT series_id, win, stddev_pop(value) AS sd FROM swin GROUP BY 1, 2
),
wterm AS (
  SELECT w.series_id, w.win, k.k,
         sum(w.value * cos(2 * pi() * k.k * (w.pos - w.win) / {w})) AS re,
         sum(w.value * sin(2 * pi() * k.k * (w.pos - w.win) / {w})) AS im
  FROM swin w CROSS JOIN ks k GROUP BY 1, 2, 3
),
wnorm AS (
  SELECT t.series_id, t.win, t.k,
         t.re * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt({w}) AS re,
         t.im * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt({w}) AS im
  FROM wterm t JOIN wstat s USING (series_id, win)
),
wlong AS (
  SELECT series_id, win, CAST(2 * (k - {k_lo}) AS INT) AS seg, re AS coef FROM wnorm
  UNION ALL
  SELECT series_id, win, CAST(2 * (k - {k_lo}) + 1 AS INT) AS seg, im AS coef FROM wnorm
),
sym AS (
  SELECT w.series_id, w.win, w.seg,
         (CASE WHEN w.coef >= b.bv1 THEN 1 ELSE 0 END +
          CASE WHEN w.coef >= b.bv2 THEN 1 ELSE 0 END +
          CASE WHEN w.coef >= b.bv3 THEN 1 ELSE 0 END) AS symbol
  FROM wlong w JOIN bins b USING (seg)
),
words AS (
  SELECT series_id, win,
         CAST(sum(CAST(symbol AS BIGINT) << (2 * seg)) AS BIGINT) AS word
  FROM sym GROUP BY series_id, win
),
nr AS (
  SELECT series_id, win, word,
         lag(word) OVER (PARTITION BY series_id ORDER BY win) AS prev
  FROM words
),
bag AS (
  SELECT series_id, word, CAST(count(*) AS BIGINT) AS cnt
  FROM nr WHERE prev IS NULL OR word <> prev
  GROUP BY series_id, word
)"""


# BOSS ensemble predict (C1, classifier path): windows=[16] ⇒ ONE
# member (factor filter keeps it; its float score is only the vote
# weight, irrelevant for a one-member vote) — but the member's f IS
# chosen by LOO accuracy over f ∈ {4, 6} (strict >, tuple order ⇒ ties
# → smaller f; classifiers.boss_ensemble_fit, ml/classifiers.py:96-129)
# with the SAME denominator (train count), so comparing correct COUNTS
# suffices. Prediction = the test 1-NN label at that f; queries with no
# accepted candidate (BOSSEnsembleClassifier.java:216) emit no row.
ORACLES["q_boss_ensemble_predict"] = f"""WITH {_sfa_bag_ctes(w=16, n_ks=3, k_lo=0)},
fvals AS (SELECT unnest([4, 6]) AS f),
fmasked AS (
  SELECT fv.f, wd.series_id, wd.win,
         wd.word & ((CAST(1 AS BIGINT) << (2 * fv.f)) - 1) AS word
  FROM words wd CROSS JOIN fvals fv
),
fnr AS (
  SELECT f, series_id, win, word,
         lag(word) OVER (PARTITION BY f, series_id ORDER BY win) AS prev
  FROM fmasked
),
fbag AS (
  SELECT f, series_id, word, CAST(count(*) AS BIGINT) AS cnt
  FROM fnr WHERE prev IS NULL OR word <> prev
  GROUP BY 1, 2, 3
),
sumsq AS (
  SELECT f, series_id AS q_id, sum(cnt * cnt) AS sumsq FROM fbag GROUP BY 1, 2
),
pairs AS (
  SELECT q.f, q.series_id AS q_id, c.series_id AS c_id,
         sum(c.cnt * c.cnt - 2 * q.cnt * c.cnt) AS corr
  FROM fbag q JOIN fbag c
    ON q.f = c.f AND q.word = c.word
   AND q.series_id <> c.series_id AND c.series_id % 5 <> 0
  GROUP BY 1, 2, 3
),
nn AS (
  SELECT p.f, p.q_id, p.c_id,
         row_number() OVER (PARTITION BY p.f, p.q_id
                            ORDER BY s.sumsq + p.corr ASC, p.c_id ASC) AS rk
  FROM pairs p JOIN sumsq s USING (f, q_id)
  WHERE p.corr <> 0 AND s.sumsq + p.corr > 0
),
correct AS (
  SELECT f, CAST(count(*) FILTER (q_id % 3 = c_id % 3) AS BIGINT) AS correct
  FROM nn WHERE rk = 1 AND q_id % 5 <> 0
  GROUP BY 1
),
bestf AS (
  SELECT fv.f FROM fvals fv LEFT JOIN correct c USING (f)
  ORDER BY coalesce(c.correct, 0) DESC, fv.f ASC LIMIT 1
)
SELECT n.q_id AS series_id, CAST(n.c_id % 3 AS DOUBLE) AS pred_label
FROM nn n JOIN bestf USING (f)
WHERE n.rk = 1 AND n.q_id % 5 = 0"""


# BOSS VS predict (C5/M1/M2 end to end): with a single (window=16, f=4)
# member the CV score only sets the vote WEIGHT, which cannot change a
# one-member weighted vote — so the oracle is exactly SFA words
# (norm_mean=False ⇒ k = 0..1) → bag → division-form tf-idf fit on the
# train bag (BOSSVS.java:58-110) → argmax score on the test bag
# (BOSSVSClassifier.java:212-263; +1.0 shift is class-independent).
ORACLES["q_bossvs_predict"] = f"""WITH {_sfa_bag_ctes(w=16, n_ks=2, k_lo=0)},
trbag AS (SELECT * FROM bag WHERE series_id % 5 <> 0),
tebag AS (SELECT * FROM bag WHERE series_id % 5 = 0),
class_tf AS (
  SELECT CAST(series_id % 3 AS DOUBLE) AS label, word, sum(cnt) AS tf
  FROM trbag GROUP BY 1, 2
),
ncls AS (SELECT CAST(count(DISTINCT label) AS DOUBLE) AS c FROM class_tf),
dfc AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM class_tf GROUP BY word),
raw AS (
  SELECT t.label, t.word,
         CASE WHEN d.df >= n.c THEN 0.0
              ELSE (1.0 + log10(CAST(t.tf AS DOUBLE)))
                   / log10(1.0 + n.c / d.df) END AS weight
  FROM class_tf t JOIN dfc d USING (word) CROSS JOIN ncls n
),
l2 AS (SELECT label, sqrt(sum(weight * weight)) AS nrm FROM raw GROUP BY label),
model AS (
  SELECT r.label, r.word,
         CASE WHEN l2.nrm < 1e-12 THEN 0.0 ELSE r.weight / l2.nrm END AS weight
  FROM raw r JOIN l2 USING (label)
),
scored AS (
  SELECT b.series_id, m.label, sum(b.cnt * m.weight) AS score
  FROM tebag b JOIN model m USING (word)
  GROUP BY 1, 2
)
SELECT series_id, label AS pred_label
FROM scored
QUALIFY row_number() OVER (PARTITION BY series_id ORDER BY score DESC, label ASC) = 1"""

# BOSS grid-ensemble predict (C1 end to end, small grid): mirrors
# grid.boss_ensemble_grid_fit(windows=[12,16], f=(4,6)) + predict
# (ml/grid.py:300-415; BOSSEnsembleClassifier.java:83-112,184-278).
# Coefficient layout per norm: nm=true drops DC (k=1..3 → segs 0..5);
# nm=false keeps DC and the ZEROED packed slot (k=0..2 → segs 0..5,
# seg1 = Σ value·sin(0) = 0 — the generic trig sum reproduces the
# packed zero exactly). Bins fit on TRAIN disjoint chunks (2-dp
# orderline, reference equi-depth scan); words masked per f; LOO 1-NN
# with the exact-bigint BOSS distance and the corr≠0 ∧ dist>0
# acceptance rule; best f per (nm,w) = max correct, ties → smaller f;
# filterByFactor(0.92) per norm; norm vote (strict >, normMean=true
# wins ties); winning norm's top (correct, w) member re-weighted with
# the vote correct count (the fit() Score mutation); vote ties → larger
# label.
# r8: SHARDED into a multi-statement temp-table script, like the
# shotgun mirror below and for the same reason: as ONE statement the
# r7 sweep OOM'd DuckDB's temp budget at sf0.1 (reproduced this round:
# >25 GB spill and climbing under memory_limit=16GB) — the multiply-
# referenced CTEs (words feeds masked; bag self-joins; nn is read by
# three consumers) keep the whole pipeline's working sets concurrently
# live. Materializing each stage as a TEMP TABLE bounds peak memory to
# one stage, the engine frees each working set at its statement
# boundary, and the math is untouched (same expressions, same grouping
# — only statement boundaries moved). The heavy LOO-pair stage is
# additionally sharded per (norm, window) INSERT. fetchdf() returns
# the final SELECT.
_BGP_COMBOS = [(True, 12), (True, 16), (False, 12), (False, 16)]


def _boss_grid_sharded() -> str:
    head = f"""CREATE OR REPLACE TEMP TABLE bgp_corp AS
WITH {SERIES} SELECT * FROM series WHERE n >= 32;
CREATE OR REPLACE TEMP TABLE bgp_ck AS
WITH combos AS (
  SELECT * FROM (VALUES (true, 12), (true, 16),
                        (false, 12), (false, 16)) AS t(nm, w)
),
ks AS (SELECT unnest(generate_series(0, 3)) AS k)
SELECT cb.nm, cb.w, k.k,
       CASE WHEN cb.nm THEN 2 * (k.k - 1) ELSE 2 * k.k END AS segb
FROM combos cb CROSS JOIN ks k
WHERE (cb.nm AND k.k BETWEEN 1 AND 3)
   OR ((NOT cb.nm) AND k.k BETWEEN 0 AND 2);
CREATE OR REPLACE TEMP TABLE bgp_bins AS
WITH wvals AS (SELECT DISTINCT w FROM bgp_ck),
ks AS (SELECT unnest(generate_series(0, 3)) AS k),
chunk AS (
  SELECT wv.w, s.series_id, CAST(floor(s.pos / wv.w) AS BIGINT) AS ci,
         s.pos % wv.w AS poff, s.value
  FROM bgp_corp s JOIN wvals wv ON s.pos < s.n - (s.n % wv.w)
  WHERE s.series_id % 5 <> 0
),
cstat AS (
  SELECT w, series_id, ci, stddev_pop(value) AS sd FROM chunk GROUP BY 1, 2, 3
),
cterm AS (
  SELECT c.w, c.series_id, c.ci, k.k,
         sum(c.value * cos(2 * pi() * k.k * c.poff / c.w)) AS re,
         sum(c.value * sin(2 * pi() * k.k * c.poff / c.w)) AS im
  FROM chunk c CROSS JOIN ks k GROUP BY 1, 2, 3, 4
),
cnorm AS (
  SELECT t.w, t.series_id, t.ci, t.k,
         t.re * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt(t.w) AS re,
         t.im * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt(t.w) AS im
  FROM cterm t JOIN cstat s USING (w, series_id, ci)
),
orderline AS (
  SELECT m.nm, m.w, CAST(m.segb AS INT) AS seg, round(t.re, 2) AS coef
  FROM cnorm t JOIN bgp_ck m USING (w, k)
  UNION ALL
  SELECT m.nm, m.w, CAST(m.segb + 1 AS INT) AS seg, round(t.im, 2) AS coef
  FROM cnorm t JOIN bgp_ck m USING (w, k)
),
ranked AS (
  SELECT nm, w, seg, coef,
         row_number() OVER (PARTITION BY nm, w, seg ORDER BY coef) AS rn,
         count(*) OVER (PARTITION BY nm, w, seg) AS cnt
  FROM orderline
),
b1 AS (SELECT nm, w, seg, min(coef) AS b FROM ranked
       WHERE rn > ceil(cnt / 4.0 * 1) GROUP BY 1, 2, 3),
b2 AS (SELECT r.nm, r.w, r.seg, min(r.coef) AS b FROM ranked r JOIN b1 USING (nm, w, seg)
       WHERE r.rn > ceil(r.cnt / 4.0 * 2) AND r.coef > b1.b GROUP BY 1, 2, 3),
b3 AS (SELECT r.nm, r.w, r.seg, min(r.coef) AS b FROM ranked r JOIN b2 USING (nm, w, seg)
       WHERE r.rn > ceil(r.cnt / 4.0 * 3) AND r.coef > b2.b GROUP BY 1, 2, 3)
SELECT DISTINCT r.nm, r.w, r.seg, b1.b AS bv1, b2.b AS bv2, b3.b AS bv3
FROM ranked r LEFT JOIN b1 USING (nm, w, seg) LEFT JOIN b2 USING (nm, w, seg)
     LEFT JOIN b3 USING (nm, w, seg);
CREATE OR REPLACE TEMP TABLE bgp_words AS
WITH wvals AS (SELECT DISTINCT w FROM bgp_ck),
ks AS (SELECT unnest(generate_series(0, 3)) AS k),
swin AS (
  SELECT wv.w, s.series_id, s.pos, s.value,
         unnest(generate_series(greatest(s.pos - wv.w + 1, 0),
                                least(s.pos, s.n - wv.w))) AS win
  FROM bgp_corp s JOIN wvals wv ON s.n >= wv.w
),
wstat AS (
  SELECT w, series_id, win, stddev_pop(value) AS sd FROM swin GROUP BY 1, 2, 3
),
wterm AS (
  SELECT sw.w, sw.series_id, sw.win, k.k,
         sum(sw.value * cos(2 * pi() * k.k * (sw.pos - sw.win) / sw.w)) AS re,
         sum(sw.value * sin(2 * pi() * k.k * (sw.pos - sw.win) / sw.w)) AS im
  FROM swin sw CROSS JOIN ks k GROUP BY 1, 2, 3, 4
),
wnorm AS (
  SELECT t.w, t.series_id, t.win, t.k,
         t.re * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt(t.w) AS re,
         t.im * (CASE WHEN s.sd > 0 THEN 1.0 / s.sd ELSE 1.0 END) / sqrt(t.w) AS im
  FROM wterm t JOIN wstat s USING (w, series_id, win)
),
wlong AS (
  SELECT m.nm, m.w, t.series_id, t.win, CAST(m.segb AS INT) AS seg, t.re AS coef
  FROM wnorm t JOIN bgp_ck m USING (w, k)
  UNION ALL
  SELECT m.nm, m.w, t.series_id, t.win, CAST(m.segb + 1 AS INT) AS seg, t.im AS coef
  FROM wnorm t JOIN bgp_ck m USING (w, k)
),
sym AS (
  SELECT l.nm, l.w, l.series_id, l.win, l.seg,
         (CASE WHEN l.coef >= b.bv1 THEN 1 ELSE 0 END +
          CASE WHEN l.coef >= b.bv2 THEN 1 ELSE 0 END +
          CASE WHEN l.coef >= b.bv3 THEN 1 ELSE 0 END) AS symbol
  FROM wlong l JOIN bgp_bins b USING (nm, w, seg)
)
SELECT nm, w, series_id, win,
       CAST(sum(CAST(symbol AS BIGINT) << (2 * seg)) AS BIGINT) AS word
FROM sym GROUP BY 1, 2, 3, 4;
CREATE OR REPLACE TEMP TABLE bgp_bag AS
WITH fvals AS (SELECT unnest([4, 6]) AS f),
masked AS (
  SELECT wd.nm, wd.w, fv.f, wd.series_id, wd.win,
         wd.word & ((CAST(1 AS BIGINT) << (2 * fv.f)) - 1) AS word
  FROM bgp_words wd CROSS JOIN fvals fv
),
nr AS (
  SELECT nm, w, f, series_id, win, word,
         lag(word) OVER (PARTITION BY nm, w, f, series_id ORDER BY win) AS prev
  FROM masked
)
SELECT nm, w, f, series_id, word, CAST(count(*) AS BIGINT) AS cnt
FROM nr WHERE prev IS NULL OR word <> prev
GROUP BY 1, 2, 3, 4, 5;
CREATE OR REPLACE TEMP TABLE bgp_sumsq AS
SELECT nm, w, f, series_id AS q_id, sum(cnt * cnt) AS sumsq
FROM bgp_bag GROUP BY 1, 2, 3, 4;
CREATE OR REPLACE TEMP TABLE bgp_nn1 (
  nm BOOLEAN, w INTEGER, f INTEGER, q_id BIGINT, c_id BIGINT);
"""
    inserts = []
    for nm, w in _BGP_COMBOS:
        lit = "true" if nm else "false"
        inserts.append(f"""INSERT INTO bgp_nn1
SELECT nm, w, f, q_id, c_id FROM (
  SELECT p.nm, p.w, p.f, p.q_id, p.c_id,
         row_number() OVER (PARTITION BY p.nm, p.w, p.f, p.q_id
                            ORDER BY s.sumsq + p.corr ASC, p.c_id ASC) AS rk
  FROM (
    SELECT q.nm, q.w, q.f, q.series_id AS q_id, c.series_id AS c_id,
           sum(c.cnt * c.cnt - 2 * q.cnt * c.cnt) AS corr
    FROM bgp_bag q JOIN bgp_bag c
      ON q.f = c.f AND q.word = c.word
     AND q.series_id <> c.series_id AND c.series_id % 5 <> 0
    WHERE q.nm = {lit} AND q.w = {w} AND c.nm = {lit} AND c.w = {w}
    GROUP BY 1, 2, 3, 4, 5
  ) p JOIN bgp_sumsq s USING (nm, w, f, q_id)
  WHERE p.corr <> 0 AND s.sumsq + p.corr > 0
) WHERE rk = 1;
""")
    # bgp_nn1 holds ONLY the rank-1 rows, which is all any consumer of
    # the original nn CTE read (correct / votes_tr / votes_te all
    # filtered rk = 1)
    tail = """WITH correct AS (
  SELECT nm, w, f,
         CAST(count(*) FILTER (q_id % 3 = c_id % 3) AS BIGINT) AS correct
  FROM bgp_nn1 WHERE q_id % 5 <> 0
  GROUP BY 1, 2, 3
),
combos AS (
  SELECT * FROM (VALUES (true, 12), (true, 16),
                        (false, 12), (false, 16)) AS t(nm, w)
),
fvals AS (SELECT unnest([4, 6]) AS f),
grid_full AS (
  SELECT g.nm, g.w, g.f, coalesce(c.correct, 0) AS correct
  FROM (SELECT cb.nm, cb.w, fv.f FROM combos cb CROSS JOIN fvals fv) g
  JOIN (SELECT DISTINCT nm, w FROM correct) cw USING (nm, w)
  LEFT JOIN correct c USING (nm, w, f)
),
bestf AS (
  SELECT nm, w, f, correct FROM grid_full
  QUALIFY row_number() OVER (PARTITION BY nm, w ORDER BY correct DESC, f ASC) = 1
),
pnbest AS (SELECT nm, max(correct) AS b FROM bestf GROUP BY nm),
members AS (
  SELECT bf.nm, bf.w, bf.f, bf.correct FROM bestf bf JOIN pnbest USING (nm)
  WHERE bf.correct >= pnbest.b * 0.92
),
votes_tr AS (
  SELECT m.nm, n.q_id AS series_id, CAST(n.c_id % 3 AS DOUBLE) AS pred_label,
         CAST(m.correct AS DOUBLE) AS wt
  FROM bgp_nn1 n JOIN members m USING (nm, w, f)
  WHERE n.q_id % 5 <> 0
),
tally_tr AS (
  SELECT nm, series_id, pred_label, sum(wt) AS wsum
  FROM votes_tr GROUP BY 1, 2, 3
),
vpred_tr AS (
  SELECT nm, series_id, pred_label FROM tally_tr
  QUALIFY row_number() OVER (PARTITION BY nm, series_id
                             ORDER BY wsum DESC, pred_label DESC) = 1
),
vacc AS (
  SELECT nm,
         count(*) FILTER (pred_label = CAST(series_id % 3 AS DOUBLE)) AS vc
  FROM vpred_tr GROUP BY nm
),
bestnm AS (SELECT nm, vc FROM vacc ORDER BY vc DESC, nm DESC LIMIT 1),
wmem AS (
  SELECT m.nm, m.w, m.f,
         CASE WHEN row_number() OVER (ORDER BY m.correct DESC, m.w DESC) = 1
              THEN b.vc ELSE m.correct END AS weight
  FROM members m JOIN bestnm b USING (nm)
),
votes_te AS (
  SELECT n.q_id AS series_id, CAST(n.c_id % 3 AS DOUBLE) AS pred_label,
         CAST(m.weight AS DOUBLE) AS wt
  FROM bgp_nn1 n JOIN wmem m USING (nm, w, f)
  WHERE n.q_id % 5 = 0
),
tally_te AS (
  SELECT series_id, pred_label, sum(wt) AS wsum
  FROM votes_te GROUP BY 1, 2
)
SELECT series_id, pred_label FROM tally_te
QUALIFY row_number() OVER (PARTITION BY series_id
                           ORDER BY wsum DESC, pred_label DESC) = 1"""
    return head + "".join(inserts) + tail


ORACLES["q_boss_grid_predict"] = _boss_grid_sharded()


# Shotgun Ensemble predict (C8b) end to end. Chain mirrors
# grid.shotgun_grid_fit(ensemble=True, factor=0.92, windows=[8,12,16])
# + ShotgunGridModel.predict (ml/grid.py:578-843; reference
# ShotgunEnsembleClassifier.java:56-77, ShotgunClassifier.java:152-237):
# one distance frame serves BOTH the LOO fit (q ∈ train, self excluded)
# and the test predict (q ∈ test); per-norm filterByFactor; the norm is
# picked by weighted train-vote accuracy (`<=` ⇒ normMean=false wins
# ties); the winning norm's top member is re-weighted with the vote
# correct count (the reference fit() Score mutation); final vote ties
# break to the LARGER label (Classifier.java:569-615).
#
# r8: SHARDED into a multi-statement temp-table script (DuckDB's
# execute() runs the statements in order and fetchdf() returns the
# last SELECT). The r7 single statement OOM'd the sf0.1 sweep at
# >37 GiB temp: the all-windows distance aggregate's group domain is
# every (q-window, c-window) cell — ~4-5e9 groups at sf0.1, a >250 GB
# hash table. Materializing qz/cz once and computing the per-pair
# distance in per-(norm, window, q-shard) INSERTs bounds each
# statement's group count to cells/(6*16) (~80M, a few GB), DuckDB
# frees the working set between statements, and the math is unchanged
# (the same cells are produced, grouped, and min/summed — only the
# statement boundaries moved). Total compute is identical; peak memory
# is 1/96th.
_SSE_COMBOS = [(True, 8), (True, 12), (True, 16),
               (False, 8), (False, 12), (False, 16)]
_SSE_NSHARD = 16


def _shotgun_ensemble_sharded() -> str:
    head = f"""CREATE OR REPLACE TEMP TABLE sse_corp AS
WITH {SERIES} SELECT * FROM series WHERE n >= 32;
CREATE OR REPLACE TEMP TABLE sse_qz AS
WITH combos AS (
  SELECT * FROM (VALUES (true, 8), (true, 12), (true, 16),
                        (false, 8), (false, 12), (false, 16)) AS t(nm, w)
),
qwin AS (
  SELECT cb.nm, cb.w, s.series_id, CAST(floor(s.pos / cb.w) AS INT) AS wi,
         s.pos % cb.w AS poff, s.value
  FROM sse_corp s JOIN combos cb ON s.pos < s.n - (s.n % cb.w)
)
SELECT nm, w, series_id, wi, poff,
       (value - CASE WHEN nm THEN avg(value) OVER wwq ELSE 0.0 END) *
       (CASE WHEN stddev_pop(value) OVER wwq <> 0
             THEN 1.0 / stddev_pop(value) OVER wwq ELSE 1.0 END) AS vz
FROM qwin WINDOW wwq AS (PARTITION BY nm, w, series_id, wi);
CREATE OR REPLACE TEMP TABLE sse_cz AS
WITH combos AS (
  SELECT * FROM (VALUES (true, 8), (true, 12), (true, 16),
                        (false, 8), (false, 12), (false, 16)) AS t(nm, w)
),
cwin AS (
  SELECT cb.nm, cb.w, s.series_id AS c_id, s.pos, s.value,
         unnest(generate_series(greatest(s.pos - cb.w + 1, 0),
                                least(s.pos, s.n - cb.w))) AS ci
  FROM sse_corp s JOIN combos cb ON s.n >= cb.w
  WHERE s.series_id % 5 <> 0
)
SELECT nm, w, c_id, ci, pos - ci AS poff,
       (value - CASE WHEN nm THEN avg(value) OVER wwc ELSE 0.0 END) *
       (CASE WHEN stddev_pop(value) OVER wwc > 0
             THEN 1.0 / stddev_pop(value) OVER wwc ELSE 1.0 END) AS vz
FROM cwin WINDOW wwc AS (PARTITION BY nm, w, c_id, ci);
CREATE OR REPLACE TEMP TABLE sse_total (
  nm BOOLEAN, w INTEGER, q_id BIGINT, c_id BIGINT, dist DOUBLE);
"""
    inserts = []
    for nm, w in _SSE_COMBOS:
        for j in range(_SSE_NSHARD):
            lit = "true" if nm else "false"
            inserts.append(f"""INSERT INTO sse_total
SELECT nm, w, q_id, c_id, sum(minsq) AS dist
FROM (
  SELECT nm, w, q_id, c_id, wi, min(sq) AS minsq
  FROM (
    SELECT q.nm, q.w, q.series_id AS q_id, c.c_id, q.wi, c.ci,
           sum(pow(q.vz - c.vz, 2)) AS sq
    FROM sse_qz q JOIN sse_cz c
      ON q.poff = c.poff AND q.series_id <> c.c_id
    WHERE q.nm = {lit} AND q.w = {w} AND c.nm = {lit} AND c.w = {w}
      AND q.series_id % {_SSE_NSHARD} = {j}
    GROUP BY 1, 2, 3, 4, 5, 6
  ) GROUP BY 1, 2, 3, 4, 5
) GROUP BY 1, 2, 3, 4;
""")
    tail = """WITH nn AS ("""
    return head + "".join(inserts) + tail


ORACLES["q_shotgun_ensemble_predict"] = _shotgun_ensemble_sharded() + f"""
  SELECT nm, w, q_id, c_id AS nn_id,
         row_number() OVER (PARTITION BY nm, w, q_id
                            ORDER BY dist ASC, c_id ASC) AS rk
  FROM sse_total
),
correct AS (
  SELECT nm, w,
         CAST(count(*) FILTER (q_id % 3 = nn_id % 3) AS BIGINT) AS correct
  FROM nn WHERE rk = 1 AND q_id % 5 <> 0
  GROUP BY 1, 2
),
pnbest AS (SELECT nm, max(correct) AS b FROM correct GROUP BY nm),
members AS (
  SELECT c.nm, c.w, c.correct FROM correct c JOIN pnbest USING (nm)
  WHERE c.correct >= pnbest.b * 0.92
),
votes_tr AS (
  SELECT m.nm, n.q_id AS series_id, CAST(n.nn_id % 3 AS DOUBLE) AS pred_label,
         CAST(m.correct AS DOUBLE) AS wt
  FROM nn n JOIN members m ON n.nm = m.nm AND n.w = m.w
  WHERE n.rk = 1 AND n.q_id % 5 <> 0
),
tally_tr AS (
  SELECT nm, series_id, pred_label, sum(wt) AS wsum
  FROM votes_tr GROUP BY 1, 2, 3
),
vpred_tr AS (
  SELECT nm, series_id, pred_label FROM tally_tr
  QUALIFY row_number() OVER (PARTITION BY nm, series_id
                             ORDER BY wsum DESC, pred_label DESC) = 1
),
vacc AS (
  SELECT nm,
         count(*) FILTER (pred_label = CAST(series_id % 3 AS DOUBLE)) AS vc
  FROM vpred_tr GROUP BY nm
),
bestnm AS (SELECT nm, vc FROM vacc ORDER BY vc DESC, nm ASC LIMIT 1),
wmem AS (
  SELECT m.nm, m.w,
         CASE WHEN row_number() OVER (ORDER BY m.correct DESC, m.w DESC) = 1
              THEN b.vc ELSE m.correct END AS weight
  FROM members m JOIN bestnm b USING (nm)
),
votes_te AS (
  SELECT n.q_id AS series_id, CAST(n.nn_id % 3 AS DOUBLE) AS pred_label,
         CAST(m.weight AS DOUBLE) AS wt
  FROM nn n JOIN wmem m ON n.nm = m.nm AND n.w = m.w
  WHERE n.rk = 1 AND n.q_id % 5 = 0
),
tally_te AS (
  SELECT series_id, pred_label, sum(wt) AS wsum
  FROM votes_te GROUP BY 1, 2
)
SELECT series_id, pred_label FROM tally_te
QUALIFY row_number() OVER (PARTITION BY series_id
                           ORDER BY wsum DESC, pred_label DESC) = 1"""

ORACLES["q_shotgun_1nn"] = f"""WITH {SERIES},
q AS (SELECT * FROM series WHERE series_id % 5 = 0 AND n >= 32),
c AS (SELECT * FROM series WHERE series_id % 5 <> 0 AND n >= 32),
qwin AS (
  SELECT series_id AS q_id, CAST(floor(pos / 16) AS INT) AS wi,
         pos % 16 AS poff, value
  FROM q WHERE pos < n - (n % 16)
),
qz AS (
  SELECT q_id, wi, poff,
         (value - avg(value) OVER w) /
         CASE WHEN stddev_pop(value) OVER w < 1e-8 THEN 1.0
              ELSE stddev_pop(value) OVER w END AS vz
  FROM qwin WINDOW w AS (PARTITION BY q_id, wi)
),
cwin AS (
  SELECT series_id AS c_id, pos, value,
         unnest(generate_series(greatest(pos - 15, 0), least(pos, n - 16))) AS ci
  FROM c
),
cz AS (
  SELECT c_id, ci, pos - ci AS poff,
         (value - avg(value) OVER w) /
         CASE WHEN stddev_pop(value) OVER w < 1e-8 THEN 1.0
              ELSE stddev_pop(value) OVER w END AS vz
  FROM cwin WINDOW w AS (PARTITION BY c_id, ci)
),
pair AS (
  SELECT qz.q_id, cz.c_id, qz.wi, cz.ci, sum(pow(qz.vz - cz.vz, 2)) AS sq
  FROM qz JOIN cz USING (poff)
  GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT q_id, c_id, wi, min(sq) AS minsq FROM pair GROUP BY 1, 2, 3
),
total AS (
  SELECT q_id, c_id, sum(minsq) AS dist FROM best GROUP BY 1, 2
)
SELECT q_id AS series_id, c_id AS nn_id,
       round(dist + 1e-9, 4) + 0.0 AS dist
FROM total
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, c_id ASC) = 1"""


# q_weasel_predict / q_muse_predict — surrogate oracles (r6, upgraded
# from rows-only): the solver is iterative, but the query's OUTPUT is
# the _predict_invariants surface, every column of which DuckDB can
# recompute: the held-out id set and the train label-domain size come
# from the same series derivation as the other ML oracles; the
# decision-rule invariants (pred in domain, pred == argmax of the
# exported logits, logits finite) must hash as constant TRUE. The
# solves' prediction VALUES are certified by the golden suite.
_PREDICT_INVARIANTS = f"""WITH {SERIES},
ids AS (SELECT DISTINCT series_id FROM series WHERE n >= 32),
k AS (
  SELECT CAST(count(DISTINCT series_id % 3) AS INT) AS n_classes
  FROM ids WHERE series_id % 5 <> 0
)
SELECT series_id, n_classes,
       TRUE AS pred_in_domain, TRUE AS argmax_ok, TRUE AS scores_finite
FROM ids CROSS JOIN k
WHERE series_id % 5 = 0"""

ORACLES["q_weasel_predict"] = _PREDICT_INVARIANTS
ORACLES["q_muse_predict"] = _PREDICT_INVARIANTS
