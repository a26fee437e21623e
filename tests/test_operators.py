"""Operator- and store-level tests, including the reference's golden
point-in-time fixture (``/root/reference/conftest.py:726-847``) ported
to this engine's contract DSL."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aligned_spark import expr as E
from aligned_spark.contracts import (
    Bool,
    EventTimestamp,
    Float64,
    Int32,
    Int64,
    String,
    feature_view,
    load_feature,
)
from aligned_spark.operators import core as ops
from aligned_spark.sources.in_memory import InMemorySource
from aligned_spark.store import ContractStore

T1 = dt.datetime(2020, 4, 26, 18, 1, 4, 746575)
T2 = dt.datetime(2020, 4, 27, 18, 1, 4, 746575)


@pytest.fixture()
def pit_store(spark):
    """The reference golden: credit_history (+agg view) and loan."""
    ssns = ["19530219_5179", "19520816_8737", "19860413_2537"]
    credit = InMemorySource.from_dict(
        {
            "dob_ssn": ssns * 2,
            "event_timestamp": [T1] * 3 + [T2] * 3,
            "credit_card_due": [8419, 2944, 833, 5936, 1575, 6263],
            "student_loan_due": [22328, 2515, 33000, 48955, 9501, 35510],
            "bankruptcies": [0, 0, 0, 0, 0, 0],
        },
        schema=(
            "dob_ssn string, event_timestamp timestamp, "
            "credit_card_due long, student_loan_due long, bankruptcies int"
        ),
    )
    loan = InMemorySource.from_dict(
        {
            "loan_id": [10000, 10001, 10002] * 2,
            "event_timestamp": [T1] * 3 + [T2] * 3,
            "loan_status": [True, False, True, True, True, True],
            "personal_income": [59000, 9600, 9600, 65500, 54400, 9900],
            "loan_amount": [35000, 1000, 5500, 35000, 35000, 2500],
        },
        schema=(
            "loan_id int, event_timestamp timestamp, loan_status boolean, "
            "personal_income long, loan_amount long"
        ),
    )

    @feature_view(name="credit_history", source=credit)
    class CreditHistory:
        dob_ssn = String().as_entity()
        event_timestamp = EventTimestamp()
        credit_card_due = Int64()
        student_loan_due = Int64()

        due_sum = credit_card_due + student_loan_due

        bankruptcies = Int32()

    @feature_view(name="credit_history_agg", source=credit)
    class CreditHistoryAggregate:
        dob_ssn = String().as_entity()
        event_timestamp = EventTimestamp()
        credit_card_due = Int64()

        credit_sum = credit_card_due.aggregate().sum().over(days=7)

    @feature_view(name="loan", source=loan)
    class Loan:
        loan_id = Int32().as_entity()
        event_timestamp = EventTimestamp()
        loan_status = Bool()
        personal_income = Int64()
        loan_amount = Int64()

    store = ContractStore(spark)
    store.add_view(CreditHistory)
    store.add_view(CreditHistoryAggregate)
    store.add_view(Loan)
    return store


def test_pit_golden(spark, pit_store):
    """Reference ``point_in_time_data_test`` expected output,
    reproduced value-for-value."""
    entities = spark.createDataFrame(
        [
            ("19530219_5179", 10000, T1),
            ("19520816_8737", 10001, T1),
            ("19860413_2537", 10002, T2),
        ],
        "dob_ssn string, loan_id int, event_timestamp timestamp",
    )
    out = pit_store.features_for(
        entities,
        [
            "credit_history:credit_card_due",
            "credit_history:student_loan_due",
            "credit_history:due_sum",
            "credit_history_agg:credit_sum",
            "loan:personal_income",
        ],
    )
    rows = {r.dob_ssn: r for r in out.collect()}
    assert len(rows) == 3

    r1 = rows["19530219_5179"]
    assert (r1.credit_card_due, r1.student_loan_due) == (8419, 22328)
    assert r1.due_sum == 8419 + 22328
    assert r1.credit_sum == 8419  # only the T1 row is in the 1-week window
    assert r1.personal_income == 59000

    r2 = rows["19520816_8737"]
    assert (r2.credit_card_due, r2.due_sum) == (2944, 2944 + 2515)
    assert r2.credit_sum == 2944
    assert r2.personal_income == 9600

    r3 = rows["19860413_2537"]  # fact at T2: both rows in window
    assert (r3.credit_card_due, r3.student_loan_due) == (6263, 35510)
    assert r3.due_sum == 6263 + 35510
    assert r3.credit_sum == 833 + 6263
    assert r3.personal_income == 9900


@pytest.mark.parametrize("ttl", [None, 86400])
def test_features_for_one_pass_matches_two_pass(spark, ttl):
    """``features_for`` computes a view's as-of columns and windowed
    aggregates in one union pass; it must give the rows and column order
    of the two-pass composition (``pit_join``, the unwindowed equi join,
    then ``pit_window_aggregate`` per window). Covers NULL-ts feature
    rows, a feature stamped exactly at the fact, facts before an
    entity's first event, duplicate facts, a TTL (gating the as-of
    columns only), an unwindowed and a join-only (median) aggregate."""
    from collections import Counter

    from aligned_spark.operators.aggregate import (
        group_aggregate,
        pit_window_aggregate,
    )
    from aligned_spark.operators.joins import equi_join, pit_join

    t0 = dt.datetime(2024, 1, 10)
    day = dt.timedelta(days=1)
    feats = spark.createDataFrame(
        [
            (1, None, 100.0, "n"),
            (1, t0 - 3 * day, 1.0, "a"),
            (1, t0 - day / 2, 2.0, "b"),
            (1, t0, 4.0, "c"),
            (1, t0 + 2 * day, 8.0, "d"),
            (2, t0 + 5 * day, 16.0, "e"),
            (3, None, 32.0, "z"),
        ],
        "user_id long, ts timestamp, value double, kind string",
    )
    facts = spark.createDataFrame(
        [
            (1, 1, t0),
            (2, 1, t0 - day),
            (3, 1, t0 + 3 * day),
            (4, 1, t0 + 10 * day),
            (5, 1, t0 - 5 * day),
            (6, 2, t0),
            (6, 2, t0),
            (7, 3, t0),
            (8, 4, t0),
        ],
        "fact_id int, user_id long, event_timestamp timestamp",
    )

    @feature_view(name="ev", source=InMemorySource(feats))
    class Ev:
        user_id = Int64().as_entity()
        ts = EventTimestamp(ttl_seconds=ttl)
        value = Float64()
        kind = String()

        cnt_7d = value.aggregate().count().over(days=7)
        sum_1d = value.aggregate().sum().over(days=1)
        mean_7d = value.aggregate().mean().over(days=7)
        med_7d = value.aggregate().median().over(days=7)
        total = value.aggregate().sum()

    store = ContractStore(spark)
    store.add_view(Ev)
    spec = {a.name: a.spec for a in store.views["ev"].aggregations}
    out = store.features_for(
        facts,
        ["ev:value", "ev:kind", "ev:sum_1d", "ev:cnt_7d", "ev:mean_7d",
         "ev:med_7d", "ev:total"],
    )

    # the as-of columns keep the store's own order among themselves
    plain = [c for c in out.columns if c in ("value", "kind")]
    two = pit_join(
        facts, feats, ["user_id"], "ts", "event_timestamp",
        ttl_seconds=ttl, feature_columns=plain,
    )
    two = equi_join(
        two, group_aggregate(feats, ["user_id"], [spec["total"]]),
        ["user_id"], how="left",
    )
    for window, names in ((7 * 86400, ["cnt_7d", "mean_7d", "med_7d"]),
                          (86400, ["sum_1d"])):
        two = pit_window_aggregate(
            two, feats, ["user_id"], "event_timestamp", "ts", window,
            [spec[n] for n in names],
        )

    assert out.columns == two.columns
    got = Counter(map(tuple, out.collect()))
    assert got == Counter(map(tuple, two.collect()))
    rows = {r.fact_id: r for r in out.collect()}
    assert (rows[1].kind, rows[1].sum_1d, rows[1].cnt_7d) == ("c", 6.0, 3)
    assert (rows[5].value, rows[5].cnt_7d) == (100.0, 0)
    assert (rows[6].value, rows[6].sum_1d, rows[6].cnt_7d) == (None, None, 0)
    assert (rows[7].value, rows[7].total) == (32.0, 32.0)
    # fact 4: the last event is 8 days back — outside the 7-day window
    # always, outside the TTL only when one is declared
    assert rows[4].cnt_7d == 0
    assert rows[4].kind == (None if ttl else "d")


def test_multi_expansion(spark):
    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "id int, v double")
    multi = E.Multi(
        steps=[
            ("__tmp", E.Col("v") * 10.0),
            ("out", E.Col("__tmp") + 1.0),
        ]
    )
    assert multi.references() == {"v"}
    out = ops.derive(df, {"final": multi})
    rows = {r.id: r.final for r in out.collect()}
    assert rows == {1: 21.0, 2: 31.0}
    assert "__tmp" not in out.columns


def test_apply_pandas(spark):
    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "id int, v double")

    out = ops.apply_pandas_column(
        df, lambda pdf: pdf["v"] * 2 + pdf["id"], "w", "float64"
    )
    rows = {r.id: r.w for r in out.collect()}
    assert rows == {1: 5.0, 2: 8.0}

    def frame_fn(pdf):
        pdf = pdf.copy()
        pdf["v"] = pdf["v"] ** 2
        return pdf

    out2 = ops.apply_pandas(df, frame_fn, "id int, v double")
    assert {r.id: r.v for r in out2.collect()} == {1: 4.0, 2: 9.0}


def test_load_feature_list_key(spark):
    """The explode→join→ordered-re-collect path for array keys
    (reference ``transformation.py:3063-3070``)."""

    prices = InMemorySource.from_dict(
        {"sku": [1, 2, 3], "price": [10.0, 20.0, 30.0]},
        schema="sku long, price double",
    )

    @feature_view(name="prices", source=prices)
    class Prices:
        sku = Int64().as_entity()
        price = Float64()

    store = ContractStore(spark)
    store.add_view(Prices)

    basket = spark.createDataFrame(
        [(1, [3, 1]), (2, [2, 99])], "basket_id long, skus array<long>"
    )
    out = store.load_feature(
        basket, "prices", "price", {"skus": "sku"}, output_col="prices_list"
    )
    rows = {r.basket_id: r.prices_list for r in out.collect()}
    assert rows[1] == [30.0, 10.0]  # order follows the key array
    assert rows[2] == [20.0, None]  # missing key → null slot


@pytest.mark.parametrize(
    "names",
    [
        ["credit_card_due", "student_loan_due", "due_sum", "bankruptcies"],
        ["bankruptcies", "due_sum", "student_loan_due", "credit_card_due"],
        ["student_loan_due", "bankruptcies", "credit_card_due", "due_sum"],
        ["due_sum", "credit_card_due", "bankruptcies", "student_loan_due"],
    ],
)
def test_features_for_columns_follow_request_order(spark, pit_store, names):
    """The as-of columns come out in request order, and ``view:*`` in
    ``all_feature_names()`` order — never in set-iteration order,
    which changes between processes."""
    facts = spark.createDataFrame(
        [("19530219_5179", T1)],
        "dob_ssn string, event_timestamp timestamp",
    )
    out = pit_store.features_for(
        facts, [f"credit_history:{n}" for n in names]
    )
    assert out.columns == ["dob_ssn", "event_timestamp", *names]
    star = pit_store.features_for(facts, ["credit_history:*"])
    every = pit_store.views["credit_history"].all_feature_names()
    assert star.columns == facts.columns + [
        n for n in every if n not in facts.columns
    ]


def test_load_feature_in_view(spark, pit_store):
    """A view declaring a cross-contract feature resolves it through
    the store."""
    facts = InMemorySource.from_dict(
        {"loan_id": [10000, 10001], "note": ["a", "b"]},
        schema="loan_id int, note string",
    )

    @feature_view(name="loan_notes", source=facts)
    class LoanNotes:
        loan_id = Int32().as_entity()
        note = String()
        income = load_feature(
            "loan:personal_income", {"loan_id": "loan_id"}
        )

    pit_store.add_view(LoanNotes)
    out = pit_store.feature_view("loan_notes").all()
    rows = {r.loan_id: r.income for r in out.collect()}
    # loan has an event timestamp → latest row per entity wins
    assert rows == {10000: 65500, 10001: 54400}


def test_dedup_and_jaccard(spark):
    from aligned_spark.operators.dedup import (
        exact_dedup,
        minhash_near_dup_pairs,
        ngram_jaccard,
    )
    from aligned_spark.functions.text_arrow import simhash_arrow

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = text_a + " tail"
    docs = spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_b), (4, "entirely different words here")],
        "doc_id long, text string",
    )
    kept = exact_dedup(docs, ["text"], order_col="doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4]

    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, jaccard_threshold=0.5
    )
    got = {(r.doc_id_a, r.doc_id_b) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always collide
    assert not any({a, b} == {1, 4} or {a, b} == {2, 4} for a, b in got)

    j = docs.filter(F.col("doc_id") == 1).select(
        ngram_jaccard(F.lit(text_a), F.lit(text_a)).alias("same"),
        ngram_jaccard(F.lit(text_a), F.lit("zzz")).alias("diff"),
    ).collect()[0]
    assert j.same == 1.0 and j.diff < 0.2

    s = docs.select(simhash_arrow(F.col("text")).alias("h")).collect()
    assert len({r.h for r in s}) >= 2  # identical texts share a simhash


def test_top_k_similar(spark):
    from aligned_spark.operators.similarity import similar_pairs, top_k_similar

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.99, 0.14]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    top = top_k_similar(emb, emb, "vec_id", "embedding", k=1)
    best = {r.query_id: r.neighbor_id for r in top.collect()}
    assert best[1] == 2 and best[2] == 1

    pairs = similar_pairs(emb, "vec_id", "embedding", threshold=0.9)
    assert {(r.vec_id_a, r.vec_id_b) for r in pairs.collect()} == {(1, 2)}


def test_cache_and_diagnostic_jobs(spark, tmp_path):
    from aligned_spark.operators.core import cached, file_cached, logged
    from aligned_spark.sources.file import ParquetSource

    df = spark.range(100).withColumn("v", F.col("id") * 2)

    c = cached(df)
    assert c.storageLevel.useMemory and c.count() == 100
    c.unpersist()

    src = ParquetSource(path=str(tmp_path / "spill.parquet"))
    first = file_cached(df, src, spark)
    assert first.count() == 100
    # second call must READ the checkpoint, not recompute: feed a
    # poisoned frame — if it recomputed, the count would differ
    poisoned = spark.range(5).withColumn("v", F.col("id"))
    again = file_cached(poisoned, src, spark)
    assert again.count() == 100

    lines: list[str] = []
    out = logged(df, log_fn=lines.append, label="t")
    assert out is df  # pass-through, no action triggered
    assert any("schema:" in ln for ln in lines)
    assert any("plan:" in ln for ln in lines)


def test_topk_matmul_matches_fold(spark):
    import random

    from aligned_spark.operators.similarity import (
        top_k_similar,
        top_k_similar_matmul,
    )

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    q = emb.filter(F.col("vec_id") < 12)
    fold = {
        (r.query_id, r.neighbor_id)
        for r in top_k_similar(q, emb, "vec_id", "embedding", k=5).collect()
    }
    mm = {
        (r.query_id, r.neighbor_id)
        for r in top_k_similar_matmul(
            q, emb, "vec_id", "embedding", k=5
        ).collect()
    }
    assert fold == mm
    # empty query side falls through without error
    none = top_k_similar_matmul(
        q.filter(F.col("vec_id") < 0), emb, "vec_id", "embedding", k=5
    )
    assert none.count() == 0


def test_ivf_topk(spark):
    """nprobe == num_centroids must equal brute force exactly; pruned
    probing keeps self-cluster recall."""
    import random

    from aligned_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        top_k_similar,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in top_k_similar(q, emb, "vec_id", "embedding", k=3).collect()
    }
    assigned, centers = ivf_assign(emb, "embedding", num_centroids=4, seed=1)
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            q, emb, "vec_id", "embedding", k=3, num_centroids=4, nprobe=4,
            assigned=assigned, centers=centers,
        ).collect()
    }
    assert full == exact
    pruned = ivf_topk(
        q, emb, "vec_id", "embedding", k=3, num_centroids=4, nprobe=2,
        assigned=assigned, centers=centers,
    ).collect()
    # every query still returns k rows, and hits are a subset check
    from collections import Counter

    per_q = Counter(r.query_id for r in pruned)
    assert all(v == 3 for v in per_q.values())
    recall = len({(r.query_id, r.neighbor_id) for r in pruned} & exact) / len(
        exact
    )
    assert recall >= 0.3


def test_split_fractions(spark):
    from aligned_spark.operators.splits import (
        train_test_split,
        train_test_validate_split,
    )

    df = spark.range(10_000).withColumn(
        "cls", (F.col("id") % 4).cast("string")
    )
    train, test = train_test_split(df, 0.25, seed=1)
    n_tr, n_te = train.count(), test.count()
    assert n_tr + n_te == 10_000
    assert abs(n_te / 10_000 - 0.25) < 0.02

    tr, te, va = train_test_validate_split(
        df, 0.2, 0.1, target="cls", seed=1
    )
    assert tr.count() + te.count() + va.count() == 10_000
    # stratified: exact per-class fractions from percent_rank
    per_cls = {
        r.cls: r["count"] for r in te.groupBy("cls").count().collect()
    }
    for cls in ("0", "1", "2", "3"):
        assert abs(per_cls[cls] - 500) <= 5


def test_media_features(spark):
    from aligned_spark.functions.multimodal import (
        binary_metadata,
        extract_media_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"abc")), (3, None)],
        "id long, blob binary",
    )
    out = extract_media_features(df, "blob", "feat", size=4)
    rows = {r.id: r.feat for r in out.collect()}
    assert rows[1] == rows[2]  # deterministic: same bytes → same vector
    assert rows[3] is None
    assert len(rows[1]) == 4

    meta = df.select("id", binary_metadata(F.col("blob")).alias("m")).collect()
    m = {r.id: r.m for r in meta}
    assert m[1].n_bytes == 3 and len(m[1].digest) == 32


def test_sessionize(spark):
    """Hand-computed sessions: gaps > 100s split; ties share a
    session; per-user numbering restarts."""
    import datetime as dt

    from aligned_spark.operators.sessions import session_stats, sessionize

    def t(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    rows = [
        (1, t(0)), (1, t(30)), (1, t(31)),      # session 1
        (1, t(200)), (1, t(200)),               # session 2 (tie)
        (2, t(0)),                              # user 2 session 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize(df, ["user_id"], "ts", gap_seconds=100)
    got = sorted(
        (r.user_id, r.ts, r.session_id) for r in out.collect()
    )
    assert got == sorted([
        (1, t(0), 1), (1, t(30), 1), (1, t(31), 1),
        (1, t(200), 2), (1, t(200), 2),
        (2, t(0), 1),
    ])

    stats = session_stats(df, ["user_id"], "ts", gap_seconds=100)
    by = {(r.user_id, r.session_id): (r.n_events, r.duration_s)
          for r in stats.collect()}
    assert by == {
        (1, 1): (3, 31.0),
        (1, 2): (2, 0.0),
        (2, 1): (1, 0.0),
    }

    # lag + running sum share ONE shuffle and ONE sort (two Window
    # nodes are inherent: the frames differ)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes both
    assert final.count("Exchange") == 1
    assert final.count("Sort [") == 1


def test_line_dup_ratio_and_sampling(spark):
    from aligned_spark.functions.text import line_dup_ratio
    from aligned_spark.operators.sampling import (
        deterministic_sample,
        weighted_source_sample,
    )

    docs = spark.createDataFrame(
        [
            (0, "a\nb\na\n\nc\na"),  # 5 non-empty lines, 3 distinct
            (1, "x\ny"),             # no dups
            (2, ""),                 # no lines
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.r
        for r in docs.select(
            "doc_id", line_dup_ratio(F.col("text")).alias("r")
        ).collect()
    }
    assert got == {0: 2 / 5, 1: 0.0, 2: 0.0, 3: 0.0}

    df = spark.range(10000).withColumn(
        "source",
        F.when(F.col("id") % 2 == 0, "a").otherwise("b"),
    )
    s1 = deterministic_sample(df, ["id"], 0.3, seed=5)
    s2 = deterministic_sample(df, ["id"], 0.3, seed=5)
    ids1 = {r.id for r in s1.collect()}
    assert ids1 == {r.id for r in s2.collect()}, "not reproducible"
    assert abs(len(ids1) - 3000) < 300

    w = weighted_source_sample(
        df, ["id"], "source", {"a": 1.0}, default_weight=0.0, seed=5
    )
    rows = w.collect()
    assert all(r.source == "a" for r in rows)
    assert len(rows) == 5000  # weight 1.0 keeps every 'a' row

    # a filter over the scan: no shuffle anywhere
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_documents(spark):
    """First-fit packing semantics: budget boundary starts a new
    pack; an oversized doc gets its own pack id without merging
    neighbors; per-key numbering independent."""
    from aligned_spark.operators.sampling import pack_documents

    rows = [
        ("a", 1, 100), ("a", 2, 100), ("a", 3, 100),  # pack 0 (300)
        ("a", 4, 150),   # 450 -> still pack 0? (300 before) yes
        ("a", 5, 200),   # before=450 -> pack 1
        ("a", 6, 900),   # before=650 -> pack 2 (oversized)
        ("a", 7, 10),    # before=1550 -> pack 3
        ("b", 1, 500),   # own partition, pack 0
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, tokens long")
    out = pack_documents(df, ["source"], "doc_id", "tokens", budget=500)
    got = {(r.source, r.doc_id): r.pack_id for r in out.collect()}
    assert got == {
        ("a", 1): 0, ("a", 2): 0, ("a", 3): 0, ("a", 4): 0,
        ("a", 5): 0,  # before=450 < 500 -> floor(450/500)=0
        ("a", 6): 1,  # before=650 -> floor=1
        ("a", 7): 3,  # before=1550 -> floor=3 (oversized doc skipped id 2)
        ("b", 1): 0,
    }


def test_top_ngram_fraction(spark):
    from aligned_spark.operators.quality import top_ngram_fraction

    rows = [
        (1, "the cat the cat the dog"),  # bigrams: 2+2+1 -> top 2/5
        (2, "a b"),                      # single bigram -> 1.0
        (3, "word"),                     # < 2 words -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.top_ngram_frac
           for r in top_ngram_fraction(df, ["doc_id"], "text").collect()}
    assert out == {1: 0.4, 2: 1.0}


def test_range_join(spark):
    from aligned_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [(1, 0.5), (2, 10.4), (3, -3.2), (4, 99.0)], "pid long, x double"
    )
    ivs = spark.createDataFrame(
        [(10, 0.0, 5.0), (11, 4.0, 12.0), (12, -5.0, -1.0)],
        "iid long, lo double, hi double",
    )
    # overlapping intervals: 0.5 -> iid 10 only; 10.4 -> 11; -3.2 -> 12
    # (negative floor binning); 99.0 -> nothing
    out = range_join(pts, ivs, "x", "lo", "hi", bin_width=3.0)
    got = {(r.pid, r.iid) for r in out.collect()}
    assert got == {(1, 10), (2, 11), (3, 12)}
    # a point inside two overlapping intervals matches both, once each
    pts2 = spark.createDataFrame([(5, 4.5)], "pid long, x double")
    got2 = sorted(
        r.iid
        for r in range_join(pts2, ivs, "x", "lo", "hi", bin_width=3.0).collect()
    )
    assert got2 == [10, 11]


def test_line_dedup(spark):
    from aligned_spark.operators.dedup import line_dedup

    rows = [
        (1, "cookie banner\nunique one\ncookie banner"),  # self-dup line
        (2, "cookie banner\nunique two"),                 # cross-doc dup
        (3, "cookie banner"),                             # all lines dup
        (4, "fresh\n\nlast"),                             # empty line dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in line_dedup(df, "doc_id", "text").collect()}
    assert out == {
        1: "cookie banner\nunique one",
        2: "unique two",
        3: "",
        4: "fresh\nlast",
    }


def test_semantic_dedup(spark):
    import math
    from aligned_spark.operators.dedup import semantic_dedup

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    # 0° ~ 5° ~ 10° form a chain at threshold cos(6°)=0.9945 —
    # cos(0°,10°)=0.985 is below it, so only transitive closure
    # collapses all three; 90° is a singleton.
    rows = [(0, at(0.0)), (1, at(5.0)), (2, at(10.0)), (3, at(90.0))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # num_planes=0 -> one bucket -> exact all-pairs verify
    out = semantic_dedup(
        df, "vec_id", "embedding", dim=2, threshold=0.9945, num_planes=0,
        num_tables=1,
    )
    assert {r.vec_id for r in out.collect()} == {0, 3}


def test_filter_by_quantile(spark):
    from aligned_spark.operators.sampling import filter_by_quantile

    rows = [("a", i, float(i)) for i in range(10)] + [("b", 0, 5.0)]
    df = spark.createDataFrame(rows, "src string, id long, score double")
    # keep_top 0.3 on percent_rank (rank-1)/(n-1): scores 9,8,7 for
    # group a (pr 0, 1/9, 2/9 <= 0.3); singleton group pr=0 kept
    out = filter_by_quantile(df, ["src"], "score", 0.3, tie_cols=["id"])
    got = {(r.src, r.id) for r in out.collect()}
    assert got == {("a", 9), ("a", 8), ("a", 7), ("b", 0)}


def test_histogram(spark):
    from aligned_spark.operators.quality import histogram

    rows = [("a", 0.5), ("a", 1.5), ("a", 1.7), ("b", -0.5), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r.g, r.bin_lo): r.bin_count
           for r in histogram(df, "v", 1.0, keys=["g"]).collect()}
    assert out == {("a", 0.0): 1, ("a", 1.0): 2, ("b", -1.0): 1}


def test_equi_join_int_float_widens_to_double(spark):
    """ADVICE r2: a bigint × float key pair must be compared in
    double — float's 24-bit mantissa collapses int64 keys >= 2^24
    (16777217 == 16777216.0f) and fabricates matches."""
    from aligned_spark.operators.joins import equi_join

    left = spark.createDataFrame([(16777216,), (16777217,)], "k bigint")
    right = spark.createDataFrame([(16777216.0,)], "k float")
    out = equi_join(left, right, left_on=["k"])
    assert [r.k for r in out.collect()] == [16777216]
    # the key column itself must be double, not float
    assert out.schema["k"].dataType.simpleString() == "double"


@pytest.mark.parametrize("strategy", ["union", "join"])
def test_asof_pit_key_widening(spark, strategy):
    """ADVICE r3 item 4: the as-of/PIT key coercion used to narrow the
    FEATURE key to the fact side's type — a float fact key × bigint
    feature key collapsed 16777217 onto 16777216 and fabricated a
    match. Both union and join strategies must widen to double; fact
    output columns keep their declared types."""
    import datetime as dt

    from aligned_spark.operators.joins import asof_join, pit_join

    t0 = dt.datetime(2024, 1, 10)
    facts = spark.createDataFrame(
        [(16777216.0, t0), (16777217.0, t0)], "k float, ts timestamp"
    )
    feats = spark.createDataFrame(
        [
            (16777216, t0 - dt.timedelta(days=1), 1.0),
            (16777217, t0 - dt.timedelta(days=1), 2.0),
        ],
        "k bigint, fts timestamp, v double",
    )
    out = {
        r.k: r.v
        for r in pit_join(
            facts, feats, ["k"], "fts", "ts", strategy=strategy
        ).collect()
    }
    # float facts can't represent 16777217 — both fact rows ARE
    # 16777216.0, so both must match feature key 16777216 only
    assert out == {16777216.0: 1.0}

    # and the mirror case: bigint facts × float features must NOT
    # give the 16777217 fact a fabricated match
    facts2 = spark.createDataFrame(
        [(16777216, t0), (16777217, t0)], "k bigint, ts timestamp"
    )
    feats2 = spark.createDataFrame(
        [(16777216.0, t0 - dt.timedelta(days=1), 1.0)],
        "k float, fts timestamp, v double",
    )
    res = asof_join(
        facts2, feats2, on="ts", by=["k"], right_on="fts",
        strategy=strategy,
    )
    vals = {r.k: r.v for r in res.collect()}
    assert vals == {16777216: 1.0, 16777217: None}
    assert res.schema["k"].dataType.simpleString() == "bigint"


def test_pit_window_join_path_key_widening(spark):
    """The windowed join formulation (median is not streamable) must
    compare a float fact key with bigint feature keys in double, as
    the as-of and streamed paths do: fact key 16777216.0 matches
    feature key 16777216 only, never 16777217."""
    import datetime as dt

    from aligned_spark.operators.aggregate import (
        AggSpec,
        pit_window_aggregate,
    )

    t0 = dt.datetime(2024, 1, 10)
    facts = spark.createDataFrame([(16777216.0, t0)], "k float, ts timestamp")
    feats = spark.createDataFrame(
        [
            (16777216, t0 - dt.timedelta(hours=1), 1.0),
            (16777217, t0 - dt.timedelta(hours=1), 2.0),
        ],
        "k bigint, fts timestamp, v double",
    )
    out = pit_window_aggregate(
        facts,
        feats,
        entities=["k"],
        fact_ts="ts",
        feature_ts="fts",
        window_seconds=86400,
        aggs=[AggSpec("v_med", "median", "v"), AggSpec("v_cnt", "count")],
    ).collect()
    assert [(r.v_med, r.v_cnt) for r in out] == [(1.0, 1)]
    assert out[0].k == 16777216.0


def test_pit_window_aggregate_key_widening(spark):
    """The windowed PIT union used to cast the FEATURE key down to the
    fact key's type: with ANSI off a bigint 2**32+1 wrapped onto int 1,
    and a bigint 16777217 collapsed onto float 16777216, so foreign
    rows were summed into the fact. Keys must widen, as in pit_join;
    fact output columns keep their declared types."""
    from aligned_spark.operators.aggregate import AggSpec, pit_window_aggregate

    t0 = dt.datetime(2024, 1, 10)
    aggs = [AggSpec("s", "sum", "v"), AggSpec("n", "count")]

    def run(facts, feats):
        out = pit_window_aggregate(
            facts, feats, ["k"], "ts", "fts", 86400, aggs
        )
        return out, {r.k: (r.s, r.n) for r in out.collect()}

    facts = spark.createDataFrame([(1, t0), (2, t0)], "k int, ts timestamp")
    feats = spark.createDataFrame(
        [
            (2**32 + 1, t0 - dt.timedelta(hours=1), 5.0),
            (2, t0 - dt.timedelta(hours=1), 7.0),
        ],
        "k bigint, fts timestamp, v double",
    )
    out, got = run(facts, feats)
    assert got == {1: (None, 0), 2: (7.0, 1)}
    assert out.schema["k"].dataType.simpleString() == "int"

    ffacts = spark.createDataFrame([(16777216.0, t0)], "k float, ts timestamp")
    ffeats = spark.createDataFrame(
        [
            (16777216, t0 - dt.timedelta(hours=1), 1.0),
            (16777217, t0 - dt.timedelta(hours=1), 2.0),
        ],
        "k bigint, fts timestamp, v double",
    )
    out, got = run(ffacts, ffeats)
    assert got == {16777216.0: (1.0, 1)}
    assert out.schema["k"].dataType.simpleString() == "float"


def test_asof_bucketed_matches_plain(spark):
    """Time-bucketed segmented-scan as-of must be value-identical to
    the single-partition-per-entity propagation, including NULL-ts
    feature rows (null-passes rule) and TTL expiry across buckets."""
    import datetime as dt

    from aligned_spark.operators.joins import asof_join, pit_join

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    feat_rows = [
        # user 1: null-ts fallback + history crossing bucket edges
        (1, None, 1.0), (1, at(5), 2.0), (1, at(95), 3.0),
        (1, at(205), 4.0),
        # user 2: only a null-ts row
        (2, None, 10.0),
        # user 3: nothing before the facts
        (3, at(500), 20.0),
    ]
    fact_rows = [
        (1, at(0)), (1, at(50), ), (1, at(100)), (1, at(300)),
        (2, at(100)), (3, at(100)), (4, at(100)),
    ]
    feat = spark.createDataFrame(
        feat_rows, "user_id long, ts timestamp, value double"
    )
    facts = spark.createDataFrame(
        fact_rows, "user_id long, ts timestamp"
    )
    for ttl in (None, 120.0):
        plain = asof_join(
            facts, feat, on="ts", by=["user_id"],
            tolerance_seconds=ttl,
        )
        buck = asof_join(
            facts, feat, on="ts", by=["user_id"],
            tolerance_seconds=ttl, bucket_seconds=100.0,
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, buck.collect())
        ), f"ttl={ttl}"
    # pit path with explicit fact_ts column name
    fa = facts.withColumnRenamed("ts", "fts")
    p = pit_join(fa, feat, entities=["user_id"], feature_ts="ts",
                 fact_ts="fts", feature_columns=["value"])
    b = pit_join(fa, feat, entities=["user_id"], feature_ts="ts",
                 fact_ts="fts", feature_columns=["value"],
                 bucket_seconds=100.0)
    assert sorted(map(tuple, p.collect())) == sorted(map(tuple, b.collect()))


def test_drop_late_events_rule(spark):
    """Watermark replay: a row is dropped iff older than
    max(ts of earlier batches) - delay; first batch always kept."""
    import datetime as dt

    from aligned_spark.streaming import drop_late_events

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # batch 0 (arrival 0-9): establishes max ts = 100
        (0, at(100), "a"),
        (1, at(5), "b"),      # same batch — kept regardless
        # batch 1 (arrival 10-19): wm = 100 - 20 = 80
        (10, at(79), "late"),   # < 80 → dropped
        (11, at(80), "edge"),   # == wm → kept (Spark drops strictly older)
        (12, at(300), "ok"),    # advances max to 300
        # batch 2: wm = 300 - 20 = 280
        (20, at(279), "late2"),  # dropped
        (21, at(285), "ok2"),
    ]
    df = spark.createDataFrame(rows, "arr long, ts timestamp, tag string")
    kept = {
        r.tag
        for r in drop_late_events(
            df, "ts", delay_seconds=20, arrival_col="arr", batch_size=10
        ).collect()
    }
    assert kept == {"a", "b", "edge", "ok", "ok2"}


def test_asof_directions(spark):
    """forward / nearest semantics: exact-ts tie matches both ways,
    forward misses facts after the last feature, nearest resolves
    ties backward, TTL gates each direction, null-ts rows stay the
    last-resort fallback."""
    import datetime as dt

    from aligned_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    feat = spark.createDataFrame(
        [(1, at(100), 1.0), (1, at(200), 2.0), (2, None, 9.0)],
        "user_id long, ts timestamp, value double",
    )
    facts = spark.createDataFrame(
        [(10, 1, at(100)),   # exact tie -> 1.0 in every direction
         (11, 1, at(140)),   # back 1.0 (40s) vs fwd 2.0 (60s) -> nearest 1.0
         (12, 1, at(160)),   # back 1.0 (60s) vs fwd 2.0 (40s) -> nearest 2.0
         (13, 1, at(250)),   # after last feature -> forward null
         (14, 2, at(50))],   # only a null-ts fallback row
        "event_id long, user_id long, ts timestamp",
    )

    def run(**kw):
        return {
            r.event_id: r.value
            for r in asof_join(
                facts, feat, on="ts", by=["user_id"], **kw
            ).collect()
        }

    fwd = run(direction="forward")
    assert fwd[10] == 1.0 and fwd[11] == 2.0 and fwd[12] == 2.0
    assert fwd[13] is None or fwd[13] == 9.0  # no later row for user 1
    assert fwd[13] is None
    assert fwd[14] == 9.0  # null-ts fallback serves forward too

    near = run(direction="nearest")
    assert near == {10: 1.0, 11: 1.0, 12: 2.0, 13: 2.0, 14: 9.0}

    # TTL: 30s cuts the 40s forward gap at event 12
    near_ttl = run(direction="nearest", tolerance_seconds=30)
    assert near_ttl[11] is None and near_ttl[12] is None
    assert near_ttl[10] == 1.0


def test_resample_forward_fill(spark):
    import datetime as dt

    from aligned_spark.operators.core import resample

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (1, at(5), 10.0),    # first tick at 10s
        (1, at(12), 20.0),
        (1, at(35), 30.0),   # ticks 10,20,30: fill 10,20,20; hi=35
        (2, at(7), 5.0),     # span [7,7] < first tick 10 -> no rows
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = sorted(
        (r.k, r.ts, r.v)
        for r in resample(df, ["k"], "ts", 10.0).collect()
    )
    assert out == [
        (1, at(10), 10.0),
        (1, at(20), 20.0),
        (1, at(30), 20.0),
    ]


def test_resample_fractional_step(spark):
    """Sub-second / fractional steps: the grid is generated in integer
    micros, so 0.5 s and 1.5 s steps align exactly (previously the
    INTERVAL truncated to whole seconds — 0.5 errored, 1.5 drifted)."""
    import datetime as dt

    import pytest

    from aligned_spark.operators.core import resample

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [(1, at(0.0), 1.0), (1, at(2.0), 2.0)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    half = sorted(
        (r.ts, r.v) for r in resample(df, ["k"], "ts", 0.5).collect()
    )
    assert half == [
        (at(0.0), 1.0), (at(0.5), 1.0), (at(1.0), 1.0),
        (at(1.5), 1.0), (at(2.0), 2.0),
    ]
    sesq = sorted(
        (r.ts, r.v) for r in resample(df, ["k"], "ts", 1.5).collect()
    )
    assert sesq == [(at(0.0), 1.0), (at(1.5), 1.0)]
    with pytest.raises(ValueError, match="positive"):
        resample(df, ["k"], "ts", 0.0)


def test_asof_directions_bucketed(spark):
    """Deterministic bucketed forward/nearest: same fixtures as
    test_asof_directions, every direction identical with and without
    bucket_seconds (including cross-bucket carry and null-ts
    fallback)."""
    import datetime as dt

    from aligned_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    feat = spark.createDataFrame(
        [(1, at(100), 1.0), (1, at(200), 2.0), (2, None, 9.0)],
        "user_id long, ts timestamp, value double",
    )
    facts = spark.createDataFrame(
        [(10, 1, at(100)), (11, 1, at(140)), (12, 1, at(160)),
         (13, 1, at(250)), (14, 2, at(50))],
        "event_id long, user_id long, ts timestamp",
    )
    for direction in ("forward", "nearest", "backward"):
        for ttl in (None, 30.0):
            plain = sorted(map(tuple, asof_join(
                facts, feat, on="ts", by=["user_id"],
                direction=direction, tolerance_seconds=ttl,
            ).collect()))
            buck = sorted(map(tuple, asof_join(
                facts, feat, on="ts", by=["user_id"],
                direction=direction, tolerance_seconds=ttl,
                bucket_seconds=60.0,
            ).collect()))
            assert plain == buck, (direction, ttl)


def test_approx_agg_specs(spark):
    """Per-spec approx opt-ins: HLL count-distinct within its rsd,
    sketch percentile within its rank-accuracy bound, exact specs in
    the same call byte-identical to the pure-exact run."""
    from aligned_spark.operators.aggregate import (
        AggSpec,
        group_aggregate,
        rolling_aggregate,
    )

    df = (
        spark.range(20_000)
        .select(
            (F.col("id") % 3).alias("g"),
            (F.col("id") % 1777).alias("u"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
    )
    exact = {
        r.g: (r.s, r.nd, r.p50)
        for r in group_aggregate(
            df, ["g"],
            [
                AggSpec("s", "sum", "v"),
                AggSpec("nd", "count_distinct", "u"),
                AggSpec("p50", "median", "v"),
            ],
        ).collect()
    }
    mixed = {
        r.g: (r.s, r.nd, r.p50)
        for r in group_aggregate(
            df, ["g"],
            [
                AggSpec("s", "sum", "v"),
                AggSpec("nd", "count_distinct", "u", approx=True, rsd=0.02),
                AggSpec("p50", "median", "v", approx=True, accuracy=10000),
            ],
        ).collect()
    }
    assert set(mixed) == set(exact)
    for g, (s, nd, p50) in exact.items():
        ms, mnd, mp50 = mixed[g]
        assert ms == s                      # exact spec untouched
        assert abs(mnd - nd) <= 0.05 * nd   # 2.5 sigma of rsd=0.02
        assert abs(mp50 - p50) <= 10.0      # ~1/accuracy rank error

    # rolling frame: per-spec approx distinct works (exact uses the
    # collect_set fallback; both must be close)
    ts = F.timestamp_seconds(F.lit(1704067200) + F.col("id"))
    ev = spark.range(5000).select(
        (F.col("id") % 2).alias("k"), ts.alias("ts"),
        (F.col("id") % 97).alias("u"),
    )
    ex = rolling_aggregate(
        ev, ["k"], "ts", 3600, [AggSpec("nd", "count_distinct", "u")]
    )
    ap = rolling_aggregate(
        ev, ["k"], "ts", 3600,
        [AggSpec("nd", "count_distinct", "u", approx=True)],
    )
    exv = sorted(r.nd for r in ex.collect())
    apv = sorted(r.nd for r in ap.collect())
    assert len(exv) == len(apv)
    assert all(abs(a - e) <= max(3, 0.1 * e) for a, e in zip(apv, exv))


def test_approx_distinct_skips_split_join(spark):
    """A sketched count_distinct must NOT trigger the exact-distinct
    split (no join in the plan): HLL merges map-side like any other
    partial aggregate, even alongside a sort-buffered collect_list."""
    import contextlib
    import io

    from aligned_spark.operators.aggregate import AggSpec, group_aggregate

    df = spark.range(100).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("u")
    )
    out = group_aggregate(
        df, ["g"],
        [
            AggSpec("lst", "collect_list", "u"),
            AggSpec("nd", "count_distinct", "u", approx=True),
        ],
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan
    # but the exact form of the same spec list DOES split
    out2 = group_aggregate(
        df, ["g"],
        [
            AggSpec("lst", "collect_list", "u"),
            AggSpec("nd", "count_distinct", "u"),
        ],
    )
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        out2.explain("formatted")
    assert "Join" in buf2.getvalue()


def test_fuzzy_join_blocked(spark):
    """Blocked approximate string join: finds same-prefix pairs
    within the distance bound, prunes beyond it, and (documented
    trade-off) never pairs across blocking prefixes."""
    from aligned_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame(
        [(0, "johnathan smith"), (1, "acme corp"), (2, "zebra")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [
            (10, "jonathan smith"),   # dist 1, same 4-prefix "john"? no — "jona"
            (11, "johnatan smith"),   # dist 1, prefix "john" matches
            (12, "acme corp."),       # dist 1, prefix "acme"
            (13, "acme incorporated"),  # dist >> 2, pruned by distance
            (14, "zebra!"),           # dist 1, prefix "zebr"
        ],
        "rid long, rname string",
    )
    out = fuzzy_join(left, right, "lname", "rname", max_distance=2,
                     block_len=4)
    pairs = {(r.lid, r.rid, r.edit_distance) for r in out.collect()}
    # "jonathan" has prefix "jona" != "john": blocked out despite dist 1
    assert pairs == {(0, 11, 1), (1, 12, 1), (2, 14, 1)}


def test_global_row_ids_matches_window_rank(spark):
    """Two-phase distributed ids == row_number() - 1 over the total
    order, for any partition count, including ids crossing partition
    boundaries."""
    from aligned_spark.operators.core import global_row_ids

    rows = [(i % 7, 1000 - i) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, v long")
    out = global_row_ids(df, ["v", "k"], num_partitions=5)
    got = {(r.k, r.v): r.row_id for r in out.collect()}
    expected_order = sorted(rows, key=lambda t: (t[1], t[0]))
    for rid, (k, v) in enumerate(expected_order):
        assert got[(k, v)] == rid
    # the plan must not contain a partitionless WindowExec
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_pagerank_star_and_cycle(spark):
    from aligned_spark.operators.graph import pagerank

    # 3-cycle: symmetric, every iteration preserves uniform 1/3
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    ranks = {r.node: r.pr for r in pagerank(cyc, iterations=5).collect()}
    for v in ranks.values():
        assert abs(v - 1.0 / 3.0) < 1e-12
    # star 1->2, 1->3, 1->4: after >=2 iterations (simple variant,
    # dangling mass dropped): center keeps (1-d)/4; leaves get
    # (1-d)/4 + d*(center)/3
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src long, dst long"
    )
    d = 0.85
    got = {r.node: r.pr for r in pagerank(star, iterations=3).collect()}
    center = (1 - d) / 4
    leaf = (1 - d) / 4 + d * center / 3
    assert abs(got[1] - center) < 1e-12
    for n in (2, 3, 4):
        assert abs(got[n] - leaf) < 1e-12


def test_zorder_interleave_known_bits(spark):
    """Hand-computed interleave: x=5 (101), y=3 (011) at 3 bits over
    an exact [0,7] range -> z = y2 x2 y1 x1 y0 x0 = 0·1 1·0 1·1 =
    0b011011 = 27... laid out LSB-first: bit(2i)=x_i, bit(2i+1)=y_i:
    x=101,y=011 -> bits x0=1,y0=1,x1=0,y1=1,x2=1,y2=0 ->
    1 + 2 + 0 + 8 + 16 + 0 = 27."""
    from aligned_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0, 0), (1, 5, 3), (2, 7, 7)], "id long, x long, y long"
    )
    out = {
        r["id"]: r["__zkey"]
        for r in zorder_key(df, ["x", "y"], bits=3).collect()
    }
    assert out[0] == 0
    assert out[1] == 27
    assert out[2] == 63  # both maxed -> all 6 bits set


def test_cluster_by_zorder_locality(spark, tmp_path):
    """Clustering by the z-key must shrink per-file bounding boxes:
    after cluster_by_zorder into 4 files, the average per-file area
    (x-span * y-span) is far below the full grid's area — the
    precondition for multi-column row-group skipping."""
    from aligned_spark.operators.layout import cluster_by_zorder

    n = 32
    rows = [(x * n + y, x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    path = str(tmp_path / "z")
    cluster_by_zorder(df, ["x", "y"], num_partitions=4).write.parquet(path)
    import glob

    areas = []
    back = spark.read.parquet(path)
    for f in glob.glob(path + "/part-*.parquet"):
        p = spark.read.parquet(f)
        r = p.agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")
        ).first()
        areas.append((r[1] - r[0] + 1) * (r[3] - r[2] + 1))
    assert back.count() == n * n
    full_area = n * n
    # 4 balanced z-curve quadrants cover ~1/4 of the grid each; a
    # single-column sort would leave every file spanning the full
    # other dimension (area == full). Allow generous slack.
    assert sum(areas) / len(areas) <= full_area / 2


def test_funnel_first_touch_semantics(spark):
    import datetime as dt

    from aligned_spark.operators.sessions import funnel

    B = dt.datetime(2024, 1, 1)

    def t(s):
        return B + dt.timedelta(seconds=s)

    rows = [
        # user 1: full funnel in order
        (1, t(0), "view"), (1, t(10), "click"), (1, t(20), "buy"),
        # user 2: buy BEFORE click -> greedy stops at stage 2
        (2, t(0), "view"), (2, t(5), "buy"), (2, t(10), "click"),
        # user 3: click before any view -> only stage 1 (later view,
        # no click after it)
        (3, t(0), "click"), (3, t(10), "view"),
        # user 4: conversion window: click lands after the 30s window
        (4, t(0), "view"), (4, t(60), "click"),
        # user 5: never enters
        (5, t(0), "buy"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, ev string")
    out = {
        r.u: (r.stage, r.step0_ts, r.step1_ts, r.step2_ts)
        for r in funnel(
            df, "u", "ts", "ev", ["view", "click", "buy"],
            within_seconds=30,
        ).collect()
    }
    assert out[1][0] == 3 and out[1][3] == t(20)
    assert out[2][0] == 2  # buy@5 precedes click@10 -> no stage 3 (greedy)
    assert out[3][0] == 1
    assert out[4][0] == 1  # click outside the 30s entry window
    assert out[5][0] == 0


def test_cohort_retention_triangle(spark):
    import datetime as dt

    from aligned_spark.operators.sessions import cohort_retention

    B = dt.datetime(2024, 1, 1)
    day = 24 * 3600

    def t(d):
        return B + dt.timedelta(days=d)

    rows = [
        (1, t(0)), (1, t(7)), (1, t(15)),   # cohort w0: w0, w1, w2
        (2, t(1)), (2, t(8)),               # cohort w0: w0, w1
        (3, t(7)), (3, t(21)),              # cohort w1: w0, w2
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = {
        (r.cohort_period, r.period_offset): r.n_users
        for r in cohort_retention(df, "u", "ts", 7 * day).collect()
    }
    # normalize cohort ids to offsets from the smallest
    base = min(c for c, _ in out)
    norm = {(c - base, o): n for (c, o), n in out.items()}
    assert norm[(0, 0)] == 2
    assert norm[(0, 1)] == 2
    assert norm[(0, 2)] == 1
    assert norm[(1, 0)] == 1
    assert norm[(1, 2)] == 1


def test_scd2_join_gaps_and_open_version(spark):
    import datetime as dt

    from aligned_spark.operators.joins import scd2_join

    B = dt.datetime(2024, 1, 1)

    def t(d):
        return B + dt.timedelta(days=d)

    # key 1: v1 [0,10), GAP [10,20), v2 [20, open)
    dim = spark.createDataFrame(
        [
            (1, t(0), t(10), "v1"),
            (1, t(20), None, "v2"),
        ],
        "k long, valid_from timestamp, valid_to timestamp, tag string",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, t(5)),    # inside v1
            (101, 1, t(15)),   # in the gap -> NULL (expired version)
            (102, 1, t(20)),   # exactly at v2 start -> v2
            (103, 1, t(999)),  # open current version -> v2
            (104, 1, t(-1)),   # before first version -> NULL
            (105, 2, t(5)),    # unknown key -> NULL
        ],
        "fid long, k long, fts timestamp",
    )
    out = {
        r.fid: r.tag
        for r in scd2_join(
            facts, dim, ["k"], "fts", "valid_from", "valid_to"
        ).collect()
    }
    assert out == {
        100: "v1", 101: None, 102: "v2", 103: "v2", 104: None, 105: None
    }


def test_snapshot_diff_change_types(spark):
    from aligned_spark.operators.core import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", None), (2, "B", 2.0), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    out = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    # key 1: identical incl. null-safe compare of the null column
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_lag_features_gaps_and_deltas(spark):
    """gap_us is exact micros since the key's previous event (NULL on
    first rows), value deltas subtract per key in (ts, tiebreak)
    order, and keys never see each other's rows."""
    import datetime as dt

    from aligned_spark.operators.core import lag_features

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, t0, 10.0),
        (2, 1, t0 + dt.timedelta(seconds=1, microseconds=500_000), 13.5),
        (3, 2, t0, 7.0),
        # tied timestamps on user 2: event_id breaks the tie
        (4, 2, t0 + dt.timedelta(seconds=2), 8.0),
        (5, 2, t0 + dt.timedelta(seconds=2), 6.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r.event_id: r for r in
           lag_features(df, ["user_id"], "ts", ["value"],
                        tie_cols=["event_id"]).collect()}
    assert out[1].gap_us is None and out[1].value_delta is None
    assert out[2].gap_us == 1_500_000
    assert out[2].value_delta == 3.5
    assert out[3].gap_us is None  # user 2's first event
    assert out[4].gap_us == 2_000_000
    assert out[5].gap_us == 0  # tied with event 4, ordered after it
    assert out[5].value_delta == -2.0


def test_quantile_bins_equal_counts(spark):
    """ntile(4) over 10 rows → bucket sizes 3,3,2,2 in value order,
    deterministic under ties via the tiebreak column."""
    from aligned_spark.operators.quality import quantile_bins

    df = spark.createDataFrame(
        [(i, "g", float(i % 5)) for i in range(10)],
        "row_id long, grp string, v double",
    )
    out = quantile_bins(df, ["grp"], "v", 4, tie_cols=["row_id"])
    sizes = {r.bin: r.n for r in
             out.groupBy("bin").count().withColumnRenamed("count", "n")
             .collect()}
    assert sizes == {1: 3, 2: 3, 3: 2, 4: 2}
    # rows are binned in (v, row_id) order: smallest three v values
    # (0.0 at row 0 and 5, then 1.0 at row 1) land in bin 1
    b1 = {r.row_id for r in out.filter("bin = 1").collect()}
    assert b1 == {0, 5, 1}


def test_exact_percentiles_counting_matches_buffered(spark):
    """The distributed counting formulation must equal F.percentile
    bit-for-bit on grid-valued data, including interpolated ranks,
    ties, NULL exclusion, and single-value groups."""
    from aligned_spark.operators.aggregate import (
        exact_percentiles_counting,
    )

    rows = [(i, "a", round(((i * 37) % 100) / 4.0, 2)) for i in range(101)]
    rows += [(200 + i, "b", 5.25) for i in range(4)]  # all-ties group
    rows += [(300, "c", 1.11), (301, "c", None)]      # null excluded
    df = spark.createDataFrame(rows, "row_id long, grp string, v double")

    ps = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = {
        r.grp: r
        for r in exact_percentiles_counting(
            df, ["grp"], "v", ps, scale=1e4
        ).collect()
    }
    exp = {
        r.grp: r
        for r in df.groupBy("grp")
        .agg(
            *[
                F.percentile(F.col("v"), F.lit(p)).alias(
                    f"p{p}".replace(".", "_")
                )
                for p in ps
            ]
        )
        .collect()
    }
    assert set(got) == set(exp)
    for grp in exp:
        for p in ps:
            name = f"p{p}".replace(".", "_")
            assert got[grp][name] == exp[grp][name], (grp, name)


def test_aggspec_counting_percentiles_match_buffered(spark):
    """AggSpec(counting=True) routes median/percentile through the
    census path and must equal the buffered plan exactly, mixed with
    plain specs and a duplicate-percentile pair."""
    from aligned_spark.operators.aggregate import AggSpec, group_aggregate

    rows = [(i, f"g{i % 3}", round((i * 13 % 50) / 4.0, 2))
            for i in range(300)]
    df = spark.createDataFrame(rows, "row_id long, grp string, v double")
    specs = lambda counting: [
        AggSpec("n", "count", None),
        AggSpec("med", "median", "v", counting=counting),
        AggSpec("p90", "percentile", "v", percentile=0.9,
                counting=counting),
        AggSpec("p90_twin", "percentile", "v", percentile=0.9,
                counting=counting),
        AggSpec("total", "sum", "v"),
    ]
    got = {r.grp: r for r in
           group_aggregate(df, ["grp"], specs(True)).collect()}
    exp = {r.grp: r for r in
           group_aggregate(df, ["grp"], specs(False)).collect()}
    assert set(got) == set(exp)
    for g in exp:
        for c in ["n", "med", "p90", "p90_twin", "total"]:
            assert got[g][c] == exp[g][c], (g, c)


def test_compact_parquet_small_files(spark, tmp_path):
    """40 tiny files compact into the computed count with identical
    data; describe_layout sees the new layout; order_cols restores
    clustering (files carry disjoint key ranges)."""
    from aligned_spark.operators.layout import (
        compact_parquet,
        describe_layout,
    )
    from aligned_spark.sources.file import read_parquet

    path = str(tmp_path / "t")
    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(40).write.parquet(path)
    before = describe_layout(spark, path).collect()
    assert len(before) == 40
    total = sum(r.bytes for r in before)
    checksum = read_parquet(spark, path).selectExpr(
        "sum(xxhash64(struct(*)))"
    ).first()[0]

    n_out = compact_parquet(
        spark, path, target_bytes=(total // 3) + 1, order_cols=["k"]
    )
    after = describe_layout(spark, path).collect()
    assert len(after) == n_out <= 4
    assert read_parquet(spark, path).selectExpr(
        "sum(xxhash64(struct(*)))"
    ).first()[0] == checksum
    # clustering restored: per-file k ranges must not overlap
    files = sorted(r.file for r in after)
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).first()
        ranges.append((r.lo, r.hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_resample_linear_hand_checked(spark):
    """Ticks between events interpolate on the line; a tick ON an
    event takes its value; ticks past the last event forward-fill."""
    import datetime as dt

    from aligned_spark.operators.core import resample_linear

    t0 = dt.datetime(2024, 1, 1)  # aligned to the 1h grid
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(hours=2), 16.0),   # slope 3/h
        (1, t0 + dt.timedelta(hours=2, minutes=30), 0.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = {r.ts: r.v for r in
           resample_linear(df, ["k"], "ts", "v", 3600.0).collect()}
    assert out[t0] == 10.0                          # tick on event
    assert out[t0 + dt.timedelta(hours=1)] == 13.0  # midpoint of 10→16
    assert out[t0 + dt.timedelta(hours=2)] == 16.0  # tick on event
    # grid ends at the last event (02:30 → last tick 02:00); nothing
    # past it — matches resample()'s span rule
    assert len(out) == 3


def test_unpack_embeddings(spark):
    """UnpackEmbedding parity (retrieval_job.py:3297-3318): array ->
    one scalar column per dimension; max-width probe; short arrays
    project NULL tails; explicit width truncates; non-array columns
    pass through in place."""
    from pyspark.sql import Row

    from aligned_spark.operators.core import unpack_embeddings

    df = spark.createDataFrame(
        [
            Row(k=1, emb=[1.0, 2.0, 3.0], tag="a"),
            Row(k=2, emb=[4.0, 5.0], tag="b"),
        ]
    )
    out = unpack_embeddings(df, ["emb"])
    assert out.columns == ["k", "emb_0", "emb_1", "emb_2", "tag"]
    rows = {r.k: (r.emb_0, r.emb_1, r.emb_2) for r in out.collect()}
    assert rows[1] == (1.0, 2.0, 3.0)
    assert rows[2] == (4.0, 5.0, None)  # max-width NULL tail
    # explicit width skips the probe and truncates
    out2 = unpack_embeddings(df, {"emb": 2})
    assert out2.columns == ["k", "emb_0", "emb_1", "tag"]
    # plan: pure projection — no explode, no Python
    plan = (
        out._jdf.queryExecution().executedPlan().toString()
    )
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan


def test_subset_range_partitions_exactly(spark):
    """`subset_range` (reference SubsetJob, retrieval_job.py:1580):
    adjacent ratio windows partition the frame exactly — no row lost
    or duplicated across boundaries — end=1.0 closes the interval so
    the maximal row is reachable, and the sorted path slices in
    ts order."""
    from pyspark.sql import Row

    from aligned_spark.operators.splits import subset_range

    df = spark.createDataFrame(
        [Row(k=i, v=i * 2) for i in range(101)]
    )
    parts = [
        subset_range(df, lo, hi, sort_column="k")
        for lo, hi in ((0.0, 0.3), (0.3, 0.7), (0.7, 1.0))
    ]
    ks = [sorted(r.k for r in p.collect()) for p in parts]
    assert sum(len(x) for x in ks) == 101
    assert sorted(sum(ks, [])) == list(range(101))
    assert ks[0][0] == 0 and ks[-1][-1] == 100  # 1.0 is inclusive
    assert max(ks[0]) < min(ks[1]) < max(ks[1]) < min(ks[2])
    # hash path: same partition property, no sort
    hparts = [
        subset_range(df, lo, hi, seed=9)
        for lo, hi in ((0.0, 0.5), (0.5, 1.0))
    ]
    hk = [sorted(r.k for r in p.collect()) for p in hparts]
    assert sorted(hk[0] + hk[1]) == list(range(101))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="start <= end"):
        subset_range(df, 0.7, 0.3)


def test_word_vectorise_and_measurement_tags(spark):
    """`word_vectorise` (reference WordVectoriser,
    transformation.py:2179; DSL sentence_vector) embeds a text column
    via an injectable batch model — default = the JVM-side fake
    embedder; a custom callable runs Arrow-batched. Measurement
    markers (feature_factory.py:554-594) land as tags."""
    from pyspark.sql import Row

    from aligned_spark.functions.embeddings import (
        fake_text_embedding,
        word_vectorise,
    )

    df = spark.createDataFrame(
        [Row(id=1, text="hello world"), Row(id=2, text=None)]
    )
    out = word_vectorise(df, "text", "emb", dim=8)
    rows = {r.id: r.emb for r in out.collect()}
    assert len(rows[1]) == 8
    assert abs(sum(x * x for x in rows[1]) - 1.0) < 1e-5
    direct = {
        r.id: r.e
        for r in df.select(
            "id", fake_text_embedding(F.col("text"), 8).alias("e")
        ).collect()
    }
    assert rows == direct  # default model == the JVM fake embedder

    def toy_model(texts):
        return [[float(len(t)), 1.0] for t in texts]

    out2 = word_vectorise(df, "text", "emb", model=toy_model)
    rows2 = {r.id: r.emb for r in out2.collect()}
    assert rows2 == {1: [11.0, 1.0], 2: [0.0, 1.0]}

    from aligned_spark.contracts import Float32

    f = Float32().is_ratio().is_interval()
    assert {"is_ratio", "is_interval"} <= set(f._tags)


def test_timed_and_chunked_helpers(spark):
    """`timed` (TimeMetricLoggerJob / monitor_time_used) reports
    elapsed seconds and returns the cached frame; `chunked`
    (DataLoaderJob) yields bounded pandas frames covering every row
    exactly once."""
    from aligned_spark.operators.core import chunked, timed

    df = spark.range(0, 25).selectExpr("id", "id * 2 AS v")
    seen = []
    out = timed(df, lambda s, label: seen.append((s, label)), "t1")
    assert out.count() == 25
    assert len(seen) == 1 and seen[0][0] >= 0 and seen[0][1] == "t1"
    out.unpersist()

    chunks = list(chunked(df.orderBy("id"), 10))
    assert [len(c) for c in chunks] == [10, 10, 5]
    assert [c["id"].tolist() for c in chunks] == [
        list(range(10)), list(range(10, 20)), list(range(20, 25))
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        list(chunked(df, 0))


@pytest.mark.parametrize("window", [86400, None])
def test_pit_window_null_ts_feature_rows_fall_in_no_window(spark, window):
    """A feature row with a NULL timestamp falls in no window, bounded
    or not, and a fact with a NULL timestamp has an empty window: the
    streamed pass gives the join formulation's NULL sum and count 0."""
    from aligned_spark.operators.aggregate import AggSpec, pit_window_aggregate

    t0 = dt.datetime(2024, 1, 10)
    facts = spark.createDataFrame(
        [(1, 1, None), (2, 1, t0)], "fid int, k long, ts timestamp"
    )
    feats = spark.createDataFrame(
        [(1, None, 5.0), (2, None, 7.0)], "k long, fts timestamp, v double"
    )
    streamed = [AggSpec("s", "sum", "v"), AggSpec("n", "count")]
    joined = streamed + [AggSpec("m", "median", "v")]

    def run(aggs):
        out = pit_window_aggregate(facts, feats, ["k"], "ts", "fts", window, aggs)
        return {r.fid: (r.s, r.n) for r in out.collect()}

    assert run(streamed) == {1: (None, 0), 2: (None, 0)}
    assert run(joined) == run(streamed)
