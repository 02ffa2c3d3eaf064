"""Alias canonicalization: the driver path against the star fallback, and
the job budget of the driver path."""
from collections import Counter

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from bert_namedentityrecognition_spark.operators import canonicalize as C

# half-width kana (U+FF71…) sorts BEFORE non-BMP (U+20BB7…) in code-point
# order, AFTER it in UTF-16 order — the two orders a driver path could mix up
POOL = ["a", "b", "B", "ｱ", "ア", "ｱｽﾋﾟﾘﾝ", "アスピリン", "𠮷", "𠮷野", "😀", "頭痛", "ずつう"]
CHAIN = [f"c{i:02d}" for i in range(40)]
NODES = POOL + CHAIN[:3] + CHAIN[-3:]
KINDS = ["drug", "symptom", None]
IDS = ["E1", "E10", "E2", None]

DIM_SCHEMA = "entity_id string, surface string, canonical string, code string, kind string"
MENTION_SCHEMA = "url string, canonical string, type string, entity_id string, code string"

maybe_node = st.one_of(st.none(), st.sampled_from(NODES))
edges_st = st.builds(
    lambda chain, extra: [(CHAIN[i + 1], CHAIN[i]) for i in range(chain - 1)] + extra,
    st.integers(0, len(CHAIN)),
    st.lists(st.tuples(maybe_node, maybe_node), max_size=14),
)
dim_st = st.lists(
    st.tuples(
        st.sampled_from(IDS),
        st.sampled_from(NODES),
        st.sampled_from(NODES),
        st.sampled_from(["A", "B", None]),
        st.sampled_from(KINDS),
    ),
    max_size=10,
)
mentions_st = st.lists(
    st.tuples(
        st.sampled_from(NODES + ["zz", None]),
        st.sampled_from(KINDS),
        st.sampled_from(IDS),
        st.sampled_from(["M", None]),
    ),
    max_size=12,
)

PINNED = (
    # edges
    [(CHAIN[i + 1], CHAIN[i]) for i in range(39)]  # a 40-chain
    + [("a", "b"), ("b", "ｱ"), ("ｱ", "a")]  # a cycle
    + [("a", "b"), ("b", "a")]  # duplicates, both directions
    + [("ア", "ア"), (None, "a"), ("頭痛", None), (None, None)]
    + [("ｱｽﾋﾟﾘﾝ", "𠮷"), ("𠮷", "𠮷野")]  # no member in dim
    + [("アスピリン", "B"), ("c39", "頭痛")],
    # dim: a surface under two kinds, one surface twice under one kind
    [
        ("S9", "アスピリン", "アスピリン", "Z9", "symptom"),
        ("D1", "アスピリン", "アスピリン", "A1", "drug"),
        ("D2", "B", "B", None, None),
        ("E2", "c20", "c20", "A", "drug"),
        ("E10", "c20", "c20", "A", "drug"),
        ("E1", "頭痛", "頭痛", None, "symptom"),
    ],
    # mentions (canonical, type, entity_id, code)
    [
        ("c00", "drug", "E0", "M"),
        ("c05", "symptom", None, None),
        ("B", "drug", "E7", "M"),
        ("B", "symptom", "E7", "M"),
        ("𠮷野", "drug", "E3", None),
        ("ｱ", None, "E4", "M"),
        ("zz", "drug", "E5", "M"),
        (None, "drug", "E6", "M"),
    ],
)


def _disjoint(cases):
    """One input holding every case: surfaces are prefixed per case, so cases
    share no component and no dim row, and order within a case is kept."""
    edges, dim, mentions = [], [], []
    for k, (e, d, m) in enumerate(cases):
        def p(s):
            return None if s is None else f"{k}|{s}"

        edges += [(p(u), p(v)) for u, v in e]
        dim += [(i, p(s), p(c), code, kind) for i, s, c, code, kind in d]
        mentions += [(f"u{k}.{j}", p(c), *rest) for j, (c, *rest) in enumerate(m)]
    return edges, dim, mentions


def _bag(df):
    return df.schema.simpleString(), Counter(tuple(r) for r in df.collect())


@settings(max_examples=1, deadline=None)
@given(st.lists(st.tuples(edges_st, dim_st, mentions_st), min_size=1, max_size=3))
def test_driver_alias_path_matches_star_fallback(spark, cases):
    """The example carries the pinned case plus one to three generated ones,
    so one star run (~30 Spark jobs, most of this test's wall) checks them
    all; a fresh example is drawn on every run."""
    assume(any(e for e, _, _ in cases))  # the pinned case alone adds nothing
    edges, dim, mentions = _disjoint([PINNED, *cases])
    alias = spark.createDataFrame(edges, "src string, dst string")
    dim_df = spark.createDataFrame(dim, DIM_SCHEMA)
    ment = spark.createDataFrame(mentions, MENTION_SCHEMA)
    driver = C.canonical_alias_map(alias, dim_df)
    cap = C.DRIVER_COLLECT_CAP
    try:
        C.DRIVER_COLLECT_CAP = 0  # every non-empty edge set is above the bound
        star = C.canonical_alias_map(alias, dim_df)
    finally:
        C.DRIVER_COLLECT_CAP = cap
    assert "Join" not in driver._jdf.queryExecution().analyzed().toString()
    assert "Join" in star._jdf.queryExecution().analyzed().toString()
    assert _bag(driver) == _bag(star)
    assert _bag(C.apply_alias_map(ment, driver, dim=dim_df)) == _bag(
        C.apply_alias_map(ment, star, dim=dim_df)
    )


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_alias_job_budget_is_independent_of_chain_length(spark):
    """Star rounds grow with the chain; the driver path is a fixed number of
    bounded actions, and the applied plan carries no window."""
    dim = spark.createDataFrame(
        [("E1", "n00", "n00", "A", "drug"), ("E2", "n00", "n00", "B", "symptom")],
        DIM_SCHEMA,
    )
    counts = {}
    for n in (4, 64):
        chain = spark.createDataFrame(
            [(f"n{i + 1:02d}", f"n{i:02d}") for i in range(n)], "src string, dst string"
        )
        ment = spark.createDataFrame(
            [(f"u{i}", f"n{i:02d}", "drug", None, None) for i in range(n + 1)],
            MENTION_SCHEMA,
        )
        out = {}

        def run():
            applied = C.apply_alias_map(ment, C.canonical_alias_map(chain, dim), dim=dim)
            out["plan"] = applied._jdf.queryExecution().optimizedPlan().toString()
            out["rows"] = applied.collect()

        counts[n] = _jobs(spark, f"alias-budget-{n}", run)
        assert {(r.canonical, r.entity_id, r.code) for r in out["rows"]} == {
            ("n00", "E1", "A")
        }
    assert counts[4] == counts[64], counts
    assert "Window" not in out["plan"]
