"""Behavioral invariants + perturbation controls for the round-5 third
batch of operators (VERDICT r4 #8 pattern: every new op ships with a
perturbed-input positive control proving its gate/threshold bites;
value-level correctness is the DuckDB oracle's job in
test_oracle_parity.py / PARITY artifacts)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators import events_ops, text

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _views(spark):
    register_uav_views(spark, SF_SMALL)


# ---------------------------------------------------------------------------
# text_dsir_weights
# ---------------------------------------------------------------------------

def test_dsir_covers_corpus_and_separates_target(spark):
    docs = spark.table("documents")
    got = text.dsir_importance_weights(spark).collect()
    assert len(got) == docs.count()
    by_id = {r["doc_id"]: r for r in got}
    target_ids = {
        r["doc_id"]
        for r in docs.filter(
            (F.col("lang") == "en") & (F.col("n_chars") >= 200)
        ).collect()
    }
    # the target docs define the target LM, so their mean importance
    # weight must exceed the non-target mean (DSIR's separating premise)
    t = [by_id[i]["avg_log_ratio"] for i in target_ids]
    nt = [r["avg_log_ratio"] for r in got if r["doc_id"] not in target_ids]
    assert sum(t) / len(t) > sum(nt) / len(nt)
    for r in got:
        assert r["selected"] == (r["avg_log_ratio"] > 0)
        assert r["n_tokens"] > 0


def test_dsir_planted_copy_scored_planted_junk_excluded(spark):
    """Perturbation pair. (a) A verbatim copy of the BEST-scoring target
    doc planted under a non-target lang must score within epsilon of
    the original (DSIR rates content, not the lang label; planting two
    small docs barely moves either LM). (b) A doc of pure
    out-of-vocabulary junk must be EXCLUDED from the output — the
    min-count vocabulary cutoff exists precisely so OOV junk can't
    ride the small-target smoothing artifact to a positive score
    (without the cutoff, 40 singleton tokens score ~+0.2 here)."""
    docs = spark.table("documents")
    baseline = text.dsir_importance_weights(spark).collect()
    target_ids = {
        r["doc_id"]
        for r in docs.filter(
            (F.col("lang") == "en") & (F.col("n_chars") >= 200)
        ).collect()
    }
    best = max(
        (r for r in baseline if r["doc_id"] in target_ids),
        key=lambda r: r["avg_log_ratio"],
    )
    best_text = (
        docs.filter(F.col("doc_id") == best["doc_id"]).first()["text"]
    )
    junk_text = " ".join(f"zzqx{i}" for i in range(40))
    plant = spark.createDataFrame(
        [
            (999_001, best_text, "xx", "planted", len(best_text)),
            (999_002, junk_text, "xx", "planted", len(junk_text)),
        ],
        schema=docs.schema,
    )
    try:
        docs.unionByName(plant).createOrReplaceTempView("documents")
        by_id = {
            r["doc_id"]: r
            for r in text.dsir_importance_weights(spark).collect()
        }
        assert 999_002 not in by_id  # OOV-only doc has no scorable tokens
        copy_r = by_id[999_001]
        assert abs(copy_r["avg_log_ratio"] - best["avg_log_ratio"]) < 0.02
    finally:
        docs.createOrReplaceTempView("documents")


# ---------------------------------------------------------------------------
# ev_seasonal_adjustment
# ---------------------------------------------------------------------------

def test_seasonal_adjustment_corpus_invariants(spark):
    ev = spark.table("events")
    got = events_ops.seasonal_adjustment(spark).collect()
    n_days = ev.select(F.to_date("ts")).distinct().count()
    assert len(got) == n_days
    assert sum(r["n_events"] for r in got) == ev.count()
    for r in got:
        assert abs(r["residual"] - (r["n_events"] - r["baseline"])) < 1e-6
        if r["robust_z"] is None:
            assert r["is_anomaly"] is False
        else:
            assert r["is_anomaly"] == (abs(r["robust_z"]) > 2.0)


def test_seasonal_adjustment_isolates_planted_spike(spark):
    """Perturbation: replay one day's events 19 extra times (a 20x
    traffic spike). The weekday-median baseline must NOT chase the
    spike (median robustness: it stays bounded by the un-inflated
    counts of that weekday), so the spike lands in the residual —
    which must dwarf every other residual of that weekday."""
    ev = spark.table("events")
    base = {
        r["day"]: r
        for r in events_ops.seasonal_adjustment(spark).collect()
    }
    # pick the weekday group with the most days, spike its busiest day
    days = sorted(base.values(), key=lambda r: (-r["n_events"], r["day"]))
    spike_day, spike_dow = days[0]["day"], days[0]["dow"]
    peers_max = max(
        r["n_events"]
        for r in base.values()
        if r["dow"] == spike_dow and r["day"] != spike_day
    )
    extra = (
        ev.filter(F.to_date("ts") == F.lit(spike_day))
        .crossJoin(spark.range(19))
        .select(ev.columns)
    )
    try:
        ev.unionByName(extra).createOrReplaceTempView("events")
        got = {
            r["day"]: r
            for r in events_ops.seasonal_adjustment(spark).collect()
        }
        spiked = got[spike_day]
        assert spiked["n_events"] == 20 * base[spike_day]["n_events"]
        # median robustness: baseline bounded by the honest peer counts
        assert spiked["baseline"] <= peers_max
        # the spike is isolated in the residual, not absorbed
        other_res = max(
            abs(r["residual"])
            for r in got.values()
            if r["dow"] == spike_dow and r["day"] != spike_day
        )
        assert spiked["residual"] > 5 * max(other_res, 1.0)
        if spiked["robust_z"] is not None:
            assert spiked["is_anomaly"] is True
    finally:
        ev.createOrReplaceTempView("events")


# ---------------------------------------------------------------------------
# emb_kcenter_sample
# ---------------------------------------------------------------------------

def _numpy_kcenter(vecs: dict, k: int):
    """Reference farthest-first traversal mirroring the operator's exact
    arithmetic: float64 squared-L2 rounded to 9dp, ties on vec_id."""
    import numpy as np

    ids = sorted(vecs)
    X = {i: np.asarray(vecs[i], dtype=np.float64) for i in ids}
    norms = {i: round(float((X[i] ** 2).sum()), 9) for i in ids}
    seed = max(ids, key=lambda i: (norms[i], -i))
    chosen = [(0, seed, None)]
    mind = {
        i: round(float(((X[i] - X[seed]) ** 2).sum()), 9)
        for i in ids
        if i != seed
    }
    for order in range(1, k):
        far = max(mind, key=lambda i: (mind[i], -i))
        chosen.append((order, far, mind[far]))
        del mind[far]
        for i in mind:
            d = round(float(((X[i] - X[far]) ** 2).sum()), 9)
            if d < mind[i]:
                mind[i] = d
    return chosen


def test_kcenter_matches_numpy_trace_exactly(spark):
    from uav_streamprocessor_spark.operators import similarity

    emb = spark.table("embeddings")
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    want = _numpy_kcenter(vecs, k=10)
    got = [
        (r["selection_order"], r["vec_id"], r["dist_at_selection"])
        for r in similarity.kcenter_greedy_sample(spark, k=10).collect()
    ]
    assert len(got) == 10
    for (wo, wi, wd), (go, gi, gd) in zip(want, got):
        assert (wo, wi) == (go, gi)
        if wd is None:
            assert gd is None
        else:
            assert abs(wd - gd) < 1e-6
    # cover radius is non-increasing by construction
    dists = [d for _, _, d in got if d is not None]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    # k distinct vectors, no repeats
    assert len({i for _, i, _ in got}) == 10


def test_kcenter_never_picks_planted_duplicate(spark):
    """Perturbation: plant an exact duplicate of the max-norm seed.
    Its distance to the chosen set is 0 from round 1 on, so farthest-
    first must never select it while distinct vectors remain."""
    from uav_streamprocessor_spark.operators import similarity

    emb = spark.table("embeddings")
    base = similarity.kcenter_greedy_sample(spark, k=8).collect()
    seed_id = base[0]["vec_id"]
    dup = emb.filter(F.col("vec_id") == seed_id).select(
        F.lit(999_999).cast("long").alias("vec_id"),
        F.col("embedding"),
        F.col("label"),
    )
    try:
        emb.unionByName(dup.select(emb.columns)).createOrReplaceTempView(
            "embeddings"
        )
        got = similarity.kcenter_greedy_sample(spark, k=8).collect()
        picked = {r["vec_id"] for r in got}
        assert 999_999 not in picked
        # the duplicate also can't change what gets picked
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in base]
    finally:
        emb.createOrReplaceTempView("embeddings")


# ---------------------------------------------------------------------------
# emb_ivfpq_topk
# ---------------------------------------------------------------------------

def test_ivfpq_structure_and_determinism(spark):
    from uav_streamprocessor_spark.operators import similarity

    got = similarity.ivfpq_topk(spark, n_queries=5, k=5, nprobe=4).collect()
    # 5 queries x 5 ranked candidates, no self-matches, ranks 1..5
    assert len(got) == 25
    per_q = {}
    for r in got:
        assert r["vec_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == set(range(5))
    for rows in per_q.values():
        assert sorted(r["rnk"] for r in rows) == [1, 2, 3, 4, 5]
        dists = [r["adc_dist"] for r in sorted(rows, key=lambda r: r["rnk"])]
        assert dists == sorted(dists)
    again = similarity.ivfpq_topk(spark, n_queries=5, k=5, nprobe=4).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]


def test_ivfpq_candidates_come_from_probed_cells_and_recall(spark):
    from uav_streamprocessor_spark.operators import similarity

    emb = spark.table("embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    # nprobe = n_cells: every cell probed -> recall bounded only by PQ
    # distortion; nprobe=2 restricts candidates to 2 cells per query
    n_cells = len(set(labels.values()))
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.knn_bruteforce(spark, n_queries=5, k=5).collect()
    }
    full = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivfpq_topk(
            spark, n_queries=5, k=5, nprobe=n_cells
        ).collect()
    }
    recall_full = len(full & exact) / len(exact)
    narrow = similarity.ivfpq_topk(spark, n_queries=5, k=5, nprobe=2).collect()
    cells_per_q = {}
    for r in narrow:
        cells_per_q.setdefault(r["query_id"], set()).add(labels[r["vec_id"]])
    for cells in cells_per_q.values():
        assert len(cells) <= 2  # probe contract: candidates only from probed cells
    # empirical floor with margin: full-probe IVFPQ on this corpus holds
    # >= 0.2 recall@5 (weak label clustering + PQ distortion; same corpus
    # regime as ivf_topk's pinned ~0.32 — PQ costs some of that)
    assert recall_full >= 0.2


def test_ivfpq_model_build_jobs_keep_callers_job_group(spark):
    """The three model-build collects run on a driver thread pool. A
    plain pool thread has no job group, so its jobs would escape the
    caller's cancellation, scheduler pool and tagging; every job the
    query launches must carry the caller's group."""
    from uav_streamprocessor_spark import registry

    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("ivfpq_job_group", "emb_ivfpq_topk")
    try:
        registry.queries()["emb_ivfpq_topk"](spark, SF_SMALL).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    assert sc.statusTracker().getJobIdsForGroup("ivfpq_job_group")


# ---------------------------------------------------------------------------
# ev_cusum_changepoints
# ---------------------------------------------------------------------------

def test_cusum_closed_form_equals_textbook_recursion(spark):
    """The windowed closed form S_t = P_t - min(0, running_min(P)) must
    equal the sequential recursion S_t = max(0, S_{t-1} + z_t -/+ k)
    replayed in plain Python over the same z series."""
    got = sorted(
        events_ops.cusum_changepoints(spark).collect(),
        key=lambda r: r["day"],
    )
    s_up = s_dn = 0.0
    for r in got:
        s_up = max(0.0, s_up + r["z"] - 0.5)
        s_dn = max(0.0, s_dn - r["z"] - 0.5)
        assert abs(r["cusum_up"] - s_up) < 1e-4, r["day"]
        assert abs(r["cusum_down"] - s_dn) < 1e-4, r["day"]
        assert r["alarm"] == (r["cusum_up"] > 4.0 or r["cusum_down"] > 4.0)
        # re-anchor the recursion on the op's rounded values to stop
        # 6dp rounding drift compounding across days
        s_up, s_dn = r["cusum_up"], r["cusum_down"]


def test_cusum_sustained_shift_alarms_where_point_screen_cannot(spark):
    """Perturbation: inflate the LAST 10 days by a uniform ~3σ of the
    ORIGINAL spread. Post-plant standardization re-estimates mu/sd over
    the shifted series, which dilutes each late day to a modest z (the
    shift inflates sd and drags mu up) — no late day becomes a 3σ point
    outlier, yet the accumulated CUSUM must alarm by the series end."""
    ev = spark.table("events")
    base = sorted(
        events_ops.cusum_changepoints(spark).collect(),
        key=lambda r: r["day"],
    )
    sd = float(
        spark.table("events")
        .groupBy(F.to_date("ts").alias("day"))
        .count()
        .agg(F.stddev_samp("count"))
        .first()[0]
    )
    days = [r["day"] for r in base]
    late = days[-10:]
    # +3 sigma (of the original spread) extra events per late day
    per_day_extra = max(1, int(round(3.0 * sd)))
    clones = (
        ev.filter(F.to_date("ts").isin(late))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(F.to_date("ts")).orderBy("event_id")
            ),
        )
        .filter(F.col("rn") <= per_day_extra)
        .drop("rn")
    )
    try:
        ev.unionByName(clones).createOrReplaceTempView("events")
        got = sorted(
            events_ops.cusum_changepoints(spark).collect(),
            key=lambda r: r["day"],
        )
        by_day = {r["day"]: r for r in got}
        # post-plant z of every late day stays a modest point value
        # (sd inflation + mean drag dilute the per-day signal)
        for d in late:
            assert by_day[d]["z"] < 3.0
        assert got[-1]["cusum_up"] > base[-1]["cusum_up"]
        assert got[-1]["alarm"] is True
    finally:
        ev.createOrReplaceTempView("events")


# ---------------------------------------------------------------------------
# text_heaps_law / rel_join_skew_audit
# ---------------------------------------------------------------------------

def test_heaps_curve_invariants_and_template_corpus_control(spark):
    docs = spark.table("documents")
    got = sorted(
        text.heaps_law_curve(spark).collect(), key=lambda r: r["doc_id"]
    )
    assert len(got) == docs.count()
    # both series strictly/weakly monotone; vocab can never exceed tokens
    for a, b in zip(got, got[1:]):
        assert b["cum_tokens"] > a["cum_tokens"]
        assert b["cum_vocab"] >= a["cum_vocab"]
    assert all(r["cum_vocab"] <= r["cum_tokens"] for r in got)
    beta_real = got[0]["heaps_beta"]
    assert 0.0 < beta_real < 1.0
    # perturbation: a pure-template corpus (every doc the same text)
    # exhausts its vocabulary in doc 1 -> beta collapses toward 0
    template = docs.select(
        "doc_id",
        F.lit("alpha beta gamma delta").alias("text"),
        "lang",
        "source",
        F.lit(23).cast("long").alias("n_chars"),
    )
    try:
        template.createOrReplaceTempView("documents")
        flat = text.heaps_law_curve(spark).collect()
        assert all(r["cum_vocab"] == 4 for r in flat)
        assert abs(flat[0]["heaps_beta"]) < 0.05
        assert flat[0]["heaps_beta"] < beta_real / 4
    finally:
        docs.createOrReplaceTempView("documents")


def test_skew_audit_flags_planted_hot_key(spark):
    from uav_streamprocessor_spark.operators import skew

    li = spark.table("lineitem")
    base = {r["key_column"]: r for r in skew.join_key_skew_audit(spark).collect()}
    assert set(base) == {"l_orderkey", "l_partkey", "l_suppkey"}
    for r in base.values():
        assert r["n_rows"] == li.count()
        assert r["max_per_key"] >= r["p99_per_key"] >= r["p50_per_key"]
        assert abs(r["straggler_ratio"] - r["max_per_key"] / r["avg_per_key"]) < 1e-3
    # TPC-H keys are near-uniform: nothing should demand salting
    assert not any(r["needs_salting"] for r in base.values())
    # perturbation: funnel ~30% of rows onto ONE orderkey (the high-
    # cardinality key, where avg rows/key is small) -> that column's
    # straggler ratio explodes and the flag flips; suppkey barely moves
    hot = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_partkey") % 3 == 0, F.lit(1)).otherwise(
            F.col("l_orderkey")
        ),
    )
    try:
        hot.createOrReplaceTempView("lineitem")
        skewed = {
            r["key_column"]: r
            for r in skew.join_key_skew_audit(spark).collect()
        }
        assert skewed["l_orderkey"]["needs_salting"] is True
        assert (
            skewed["l_orderkey"]["straggler_ratio"]
            > 10 * base["l_orderkey"]["straggler_ratio"]
        )
        assert skewed["l_orderkey"]["top1_share"] > 0.25
        assert skewed["l_suppkey"]["needs_salting"] is False
    finally:
        li.createOrReplaceTempView("lineitem")


# ---------------------------------------------------------------------------
# text_pmi_collocations
# ---------------------------------------------------------------------------

def test_pmi_planted_exclusive_pair_tops_ranking(spark):
    """Invariants + perturbation: PMI of every reported pair must match
    the count-derived formula; a planted pair of tokens that ONLY ever
    occur together (across enough docs to clear the count floor) is the
    definition of maximal PMI and must rank first."""
    docs = spark.table("documents")
    base = text.pmi_collocations(spark).collect()
    assert 0 < len(base) <= 50
    for r in base:
        assert r["n_pair"] >= 25
    pmis = [r["pmi"] for r in base]
    assert pmis == sorted(pmis, reverse=True)
    # plant: append " qqglue qqbond" to 30 docs — the two tokens appear
    # exactly once each per planted doc and never apart
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") < 30,
            F.concat(F.col("text"), F.lit(" qqglue qqbond")),
        ).otherwise(F.col("text")),
    )
    try:
        planted.createOrReplaceTempView("documents")
        got = text.pmi_collocations(spark).collect()
        top = got[0]
        assert (top["w1"], top["w2"]) == ("qqglue", "qqbond")
        assert top["n_pair"] == top["n_w1"] == top["n_w2"] == 30
        assert top["pmi"] > base[0]["pmi"]
    finally:
        docs.createOrReplaceTempView("documents")
