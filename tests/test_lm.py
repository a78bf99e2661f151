"""Stupid-backoff bigram LM scoring (operators/lm.py): hand-worked
scores on a tiny corpus (both branches + multiplicities + the
OOV-unigram zero), and a Python-free plan pin."""

from osm_render_spark.operators.lm import bigram_lm_scores


def _scores(spark, docs, train_filter="doc_id % 2 = 0"):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = bigram_lm_scores(df, train_filter=train_filter)
    return {r.doc_id: r for r in out.collect()}


def test_hand_worked_scores(spark):
    """Train slice = doc 0 only: tokens a,b,a,c → c1(a)=2, c1(b)=1,
    c1(c)=1, T=4; bigrams (a,b),(b,a),(a,c) each c2=1."""
    got = _scores(
        spark,
        [
            (0, "a b a c"),  # train: 500000 + 1000000 + 500000
            (1, "a b z c"),  # (a,b)=500000; (b,z) backoff c1(z)=0 → 0;
            #                  (z,c) backoff ⌊400000·1/4⌋ = 100000
            (3, "a b a b"),  # m(a,b)=2 → 2·500000, (b,a) → 1000000
            (5, "x"),        # one token → excluded
        ],
    )
    assert got[0].n_bigrams == 3 and got[0].n_backoff == 0
    assert got[0].score_ppm == 2_000_000
    assert got[1].n_bigrams == 3 and got[1].n_backoff == 2
    assert got[1].score_ppm == 600_000
    assert got[3].n_bigrams == 3 and got[3].n_backoff == 0
    assert got[3].score_ppm == 2_000_000
    assert 5 not in got


def test_floor_division_quantization(spark):
    """c2/c1 = 1/3 must floor: ⌊10⁶/3⌋ = 333333, not a rounded value."""
    got = _scores(spark, [(0, "a x a y a z"), (1, "a x")])
    # train doc 0: c1(a)=3; (a,x) c2=1 → ⌊1e6/3⌋
    assert got[1].score_ppm == 333_333
    assert got[1].n_bigrams == 1


def test_train_slice_is_respected(spark):
    """Same corpus, different slice → different counts."""
    docs = [(i, "a b c d e") for i in range(10)]
    all_train = _scores(spark, docs, train_filter="doc_id >= 0")
    one_train = _scores(spark, docs, train_filter="doc_id = 0")
    # identical docs: every bigram seen in both regimes, same per-doc
    # score (ratios are scale-free) — but T and counts differ internally;
    # scores agree because c2/c1 is identical. Sanity: no backoff.
    assert all(r.n_backoff == 0 for r in all_train.values())
    assert all(r.n_backoff == 0 for r in one_train.values())


def test_python_free_plan(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    plan = (
        bigram_lm_scores(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
