"""Near-containment (operators/containment.py) against a brute-force
python replica: shingling, the df-cap, the directional size/id rule,
and the ratio threshold must all match on the real corpus sample and
on crafted edges (short docs, exact subsumption, boilerplate cap)."""

from __future__ import annotations

import re

from eth_options_data_pipeline_spark.operators.containment import (
    _expansion_partitions,
    containment_pairs,
    pairs_from_shingles,
    shingle_table,
)

N = 3
CAP = 20
MIN_C = 0.5


def _py_shingles(text: str, n: int = N) -> set:
    ws = [w for w in text.strip().split(" ") if w]
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def _py_pairs(texts: dict, n: int = N, cap: int = CAP, min_c: float = MIN_C):
    sh = {d: _py_shingles(t, n) for d, t in texts.items() if t is not None}
    return _py_pairs_from_sets(sh, cap, min_c)


def _py_pairs_from_sets(sh: dict, cap: int = CAP, min_c: float = MIN_C):
    df: dict = {}
    for s in sh.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    kept = {d: {g for g in s if df[g] <= cap} for d, s in sh.items()}
    out = set()
    for a, sa in kept.items():
        for b, sb in kept.items():
            if a == b or not sa:
                continue
            if len(sa) < len(sb) or (len(sa) == len(sb) and a < b):
                shared = len(sa & sb)
                c = round(shared / len(sa), 6)
                if c >= min_c:
                    out.add((a, b, shared, len(sa), len(sb), c))
    return out


def test_matches_bruteforce_on_corpus_sample(spark, sf_small):
    # sort before limit: LIMIT without ordering may pick different
    # rows across the two jobs below (collect vs containment_pairs)
    docs = (spark.read.parquet(f"{sf_small}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(120))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {tuple(r) for r in
           containment_pairs(docs, df_cap=CAP,
                             min_containment=MIN_C).collect()}
    assert got == _py_pairs(texts)
    assert got, "sample produced no containment pairs — widen the limit"


def test_exact_subsumption_and_short_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),   # container
        (2, "beta gamma delta"),                      # one shingle, inside 1
        (3, "one two"),                               # < n words: no shingles
        (4, None),                                    # null text
        (5, "totally different words here indeed"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["contained_in"], r["containment"])
           for r in containment_pairs(docs).collect()}
    assert (2, 1, 1.0) in got
    assert all(d not in (3, 4) and c not in (3, 4) for d, c, _ in got)


def test_df_cap_drops_boilerplate_shingle(spark):
    """A shingle shared by MORE than df_cap docs must not create
    pairs: 25 otherwise-disjoint docs sharing one boilerplate line
    produce zero output under cap 20."""
    boiler = "subscribe to our newsletter"
    rows = [(i, f"{boiler} unique{i} tail{i} end{i}") for i in range(25)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert containment_pairs(docs, df_cap=CAP).count() == 0


def test_shingle_table_is_distinct_per_doc(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c")], "doc_id long, text string")
    got = sorted(r["shingle"] for r in shingle_table(docs).collect())
    # 7 positions but only 3 distinct shingles
    assert got == ["a b c", "b c a", "c a b"]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bucket_spreads(df) -> list[int]:
    """Partition counts of the ``shingle``-keyed hash repartitions
    directly under the bucket aggregation (the collect_set by shingle)
    in the optimized plan: the expansion spread, one per planned copy
    of the bucket subtree. Fails if any repartition sits above that
    aggregation."""
    found = []

    def walk(node) -> bool:
        kids = node.children()
        above = False
        for i in range(kids.size()):
            above |= walk(kids.apply(i))
        name = node.nodeName()
        if name.startswith("Repartition"):
            assert not above, f"repartition above the buckets: {node}"
        if name == "Aggregate" and "collect_set" in node.simpleString(100):
            child = node.child()
            keys = child.partitionExpressions() \
                if child.nodeName() == "RepartitionByExpression" else None
            if keys is not None and keys.size() == 1 and \
                    keys.apply(0).toString().split("#")[0] == "shingle":
                found.append(child.numPartitions())
            return True
        return above

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


def test_expansion_spread_is_unconditional_and_lazy(spark, sf_small):
    """The pair expansion always gets the shingle-keyed spread
    under the bucket aggregation, whatever partitioning the shingle
    relation arrives on, and building the plan submits no Spark job:
    the spread width comes from file metadata, not from running the
    upstream stage. dx58's only construction job is its source's
    parquet schema read."""
    from eth_options_data_pipeline_spark.queries import REGISTRY
    from eth_options_data_pipeline_spark.sources import load_table

    docs, n_src = _jobs_in_group(
        spark, "documents-load",
        lambda: load_table(spark, sf_small, "documents")
        .select("doc_id", "text"))
    _, n = _jobs_in_group(spark, "dx58-construct",
                          lambda: REGISTRY["dx58_containment"].fn(
                              spark, sf_small))
    assert n == n_src, f"building dx58 submitted {n - n_src} extra jobs"
    _, n = _jobs_in_group(spark, "pairs-construct",
                          lambda: pairs_from_shingles(shingle_table(docs)))
    assert n == 0, f"building pairs_from_shingles submitted {n} jobs"

    sample = docs.orderBy("doc_id").limit(50)
    par = spark.sparkContext.defaultParallelism
    narrow_sh = shingle_table(sample).coalesce(1)
    narrow = pairs_from_shingles(narrow_sh)
    wide = pairs_from_shingles(shingle_table(sample).repartition(par))
    spreads = _bucket_spreads(narrow)
    assert set(spreads) == {_expansion_partitions(narrow_sh)}, \
        "1-partition input must get the expansion spread"
    assert _bucket_spreads(wide) == spreads, \
        "already-spread input must get the same expansion spread"
    assert sorted(map(tuple, narrow.collect())) == \
        sorted(map(tuple, wide.collect()))


def test_pair_orientation_and_single_shingle_shuffle(spark):
    """Each unordered pair is expanded once and oriented after the size
    joins: the smaller capped set is ``doc_id`` (also when it has the
    higher id), equal sizes put the lower id first, a pair sharing
    several buckets counts each once, and a bucket over the cap counts
    toward no size. The final adaptive plan shuffles the shingle
    relation once, on ``shingle``, with no round-robin spread."""
    cap = 3
    sets = {
        1: {"a", "b", "c", "d", "z"},  # contains 2: the higher id is smaller
        2: {"a", "b", "c", "z"},
        3: {"e", "f", "z"},            # 3 and 4 tie: 3 is doc_id
        4: {"e", "f", "z"},
        5: {"g", "h", "i"},            # tie, 2 of 3 shared
        6: {"g", "h", "x"},
        7: {"p", "q", "r", "s"},       # 1 of 4 shared: under the ratio
        8: {"p", "t", "u", "v", "w"},
    }
    rows = [(d, g) for d, s in sets.items() for g in sorted(s)]
    rows += [(2, "a"), (6, "g")]       # per-doc multiplicity is deduped
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    out = pairs_from_shingles(sh, min_containment=MIN_C, df_cap=cap)
    got = {tuple(r) for r in out.collect()}
    assert got == _py_pairs_from_sets(sets, cap, MIN_C)
    assert {(2, 1, 3, 3, 4, 1.0), (3, 4, 2, 2, 2, 1.0),
            (5, 6, 2, 3, 3, 0.666667)} == got

    final = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    shingle_exchanges = re.findall(
        r"(?m)^[\s:|+-]*Exchange hashpartitioning\(shingle#", final)
    assert len(shingle_exchanges) == 1, final
    assert "RoundRobinPartitioning" not in final, final


def test_pairs_from_shingles_equals_explode_path(spark, sf_small):
    """The streaming serve path (pairs_from_shingles over a
    materialized, pre-deduped shingle relation) must equal the batch
    explode path bit for bit — guards the r10 refactor that split
    containment_pairs in two."""
    docs = (spark.read.parquet(f"{sf_small}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(150))
    via_table = pairs_from_shingles(shingle_table(docs),
                                    min_containment=MIN_C, df_cap=CAP)
    direct = containment_pairs(docs, min_containment=MIN_C, df_cap=CAP)
    assert sorted(map(tuple, via_table.collect())) == \
        sorted(map(tuple, direct.collect()))
