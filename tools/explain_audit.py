"""Plan audit: assert the physical plans have the shapes we designed for.

Checks, per headline query, that:
- predicates reach the Parquet scan (``PushedFilters`` non-trivial),
- projections prune columns (``ReadSchema`` ⊂ table schema),
- small-dim joins broadcast (``BroadcastHashJoin``),
- order+limit compiles to ``TakeOrderedAndProject`` (no full sort),
- the keyset-cursor tuple-compare is sargable (appears in PushedFilters),
- bounded top-k windows keep the map-side ``WindowGroupLimit`` (Partial).

Run: python tools/explain_audit.py   (exit 1 on any missing shape)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS: dict[str, list[str]] = {
    "q_filter_sort_limit": ["PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity",
                            "TakeOrderedAndProject",
                            "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
                            "l_quantity:double,l_extendedprice:double>"],
    "q_join_inner_group": ["BroadcastHashJoin",
                           "EqualTo(c_mktsegment,BUILDING)",
                           "LessThan(o_orderdate"],
    "q_topk": ["TakeOrderedAndProject"],
    "q_keyset_page": ["PushedFilters: [Or(GreaterThan(c_acctbal"],
    "q_groupby_having": ["HashAggregate"],
    "q_vector_cosine_topk": ["TakeOrderedAndProject",
                             "ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>"],
    "q_or_union_dedup": ["PushedFilters: [Or("],
    "q_join5_regional": ["BroadcastHashJoin", "EqualTo(r_name,AMERICA)"],
    "q_vector_ip_topk": ["TakeOrderedAndProject",
                         "ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>"],
    "q_similarity_ivf": ["PartitionFilters: [cell_id"],
    # bounded top-k: the optimizer's WindowGroupLimit (Partial below the
    # exchange, Final above) must bound the per-query window — no map
    # task forwards more than k rows per query, no single reducer ever
    # sorts a query's full N (r18: replaces the manual __pid pre-rank,
    # which duplicated this bound at the cost of a second exchange).
    "q_knn_join": ["WindowGroupLimit(Partial)"],
    # distributed LPT sharding: the ranking window is partitioned by the
    # md5 hash group — never a global single-partition window
    "q_corpus_shards": ["__grp"],
    # vocab stats: partial_count proves the (doc,token) aggregate combines
    # map-side before the shuffle
    "q_vocab_stats": ["partial_count", "HashAggregate"],
    # batch IVF: the broadcast of the (query, probe-cell) side is what
    # makes dynamic partition pruning possible over a persisted index,
    # and the shared two-stage top-k bounds every sort
    "q_ivf_batch": ["BroadcastHashJoin", "WindowGroupLimit(Partial)"],
    # packing/caps: every ranking/cumsum window must be key-partitioned —
    # a global window (single reducer) would show an empty partition spec
    "q_pack_sequences": ["windowspecdefinition(shard#"],
    "q_source_cap": ["windowspecdefinition(source#"],
    # percentile threshold is broadcast back into the scan-filter plan,
    # not collected to the driver
    "q_quality_filter": ["BroadcastNestedLoopJoin"],
    # quantized k-NN: the small quantized-query side must broadcast (the
    # corpus streams), and both top-k stages stay WindowGroupLimit-bounded
    "q_quantized_knn": ["BroadcastNestedLoopJoin", "WindowGroupLimit(Partial)"],
    # PQ/ADC search: the score is pure map-side column math — the only
    # ordering operators must be bounded top-k, never a full sort
    "q_pq_search": ["TakeOrderedAndProject"],
    # repeated-span removal: the distinct-doc count must combine map-side
    # (partial_count) and the ordered rebuild is a partial/final
    # ObjectHashAggregate pair — no global window, no cartesian stage
    "q_repeated_spans": ["partial_count", "ObjectHashAggregate"],
    # LM scoring: LM train combines map-side; the final ranking is a
    # bounded top-k, never a full sort
    "q_lm_score": ["partial_count", "TakeOrderedAndProject"],
    # training shuffle: the only window is shard-partitioned
    "q_corpus_shuffle": ["windowspecdefinition(shard"],
    # containment: the pair join is keyed on the md5 band digest
    # (strategy itself is AQE's choice — broadcast at test SF, SMJ at
    # scale); the audit's absence-check below pins no-cartesian
    "q_containment": ["md5"],
    # grouping sets: ONE scan expanded per set + a single hash-aggregate
    # — never one scan per grouping set
    "q_grouping_sets": ["Expand", "HashAggregate"],
    # pivot with explicit values: one hash-aggregate, no discovery job
    "q_pivot_wide": ["HashAggregate"],
    # incremental MV: union of partials + re-aggregate; no fact rescan
    # is visible as: only the orders scans the entry itself constructs
    "q_mv_incremental": ["HashAggregate", "Union"],
    # SCD2: the open-rows-vs-delta join broadcasts the (small) delta;
    # the latest-per-key window over the delta is group-limit bounded
    "q_scd2_history": ["BroadcastHashJoin", "WindowGroupLimit(Partial)"],
    # heavy hitters: the 1-row total folds in as a broadcast inside the
    # same plan — no separate count() action/driver round-trip
    "q_heavy_hitters": ["BroadcastNestedLoopJoin", "HashAggregate"],
    # topic balance: the per-cell cut is a cell-partitioned window with
    # a group limit — no global sort
    "q_topic_balance": ["WindowGroupLimit(Partial)", "windowspecdefinition(cell_id"],
    # unpivot: a pure per-row Expand — zero shuffles (no Exchange at all)
    "q_unpivot_long": ["Expand"],
    # funnel: stepwise conditional-min folds are hash-aggregates over
    # entity-keyed frames (the no-cartesian sweep pins no k-way blowup)
    "q_funnel": ["HashAggregate"],
    # retention: three uniform-key hash-aggregates, no window
    "q_cohort_retention": ["HashAggregate"],
    # ANALYZE: one scan feeds the multi-distinct Expand aggregate, and
    # the long-form reshape is a Generate (explode), never a union of
    # per-column selects re-running the aggregate
    "q_column_stats": ["partial_count", "Expand", "Generate"],
    # bloom join: the compact bitmap rides in as a broadcast 1-row map
    # (BNLJ) and the membership test is in-plan xxhash64 column math —
    # no probe-side shuffle before the filter, no driver round-trip
    "q_bloom_join": ["BroadcastNestedLoopJoin", "xxhash64"],
    # holdout split: pure column math + one partial-combined aggregate;
    # zero windows (the no-cartesian sweep covers the rest)
    "q_split_corpus": ["partial_count", "HashAggregate"],
    # equi-height histogram: the exact bounds come from the staged
    # order-statistic jobs (plans/stats.exact_percentiles_frame) and
    # fold into the count pass as a broadcast 1-row literal frame —
    # the final plan is one scan + one hash-aggregate, no value-map
    # percentile operator anywhere
    "q_histogram": ["BroadcastNestedLoopJoin", "HashAggregate"],
    # weighted sampling: a pure filter + one partial-combined aggregate
    "q_weighted_sample": ["partial_count", "HashAggregate"],
    # length-grouped batching: the rank window is SHARD-partitioned
    # (never a global single-reducer sort over the corpus)
    "q_length_batches": ["windowspecdefinition(shard"],
    # vocab coverage: the vocab cut is a bounded top-k over the token
    # frequency table, never a full sort
    "q_vocab_coverage": ["TakeOrderedAndProject"],
    # concat-and-chunk: the offset cumsum window is SHARD-partitioned
    # and the rebuild is an ObjectHashAggregate on (shard, example) —
    # no global window anywhere
    "q_pack_materialize": ["windowspecdefinition(shard",
                           "ObjectHashAggregate"],
    # covariance moments: ONE aggregate evaluation reshaped by Generate
    "q_embedding_cov": ["HashAggregate", "Generate"],
    # correlation matrix: ONE aggregate evaluation reshaped by Generate
    # (explode) — a union of per-pair selects would rescan per pair
    "q_column_corr": ["HashAggregate", "Generate"],
    # resample: grid explode is a Generate; every fill window is
    # entity-partitioned (never a global window)
    "q_resample": ["Generate", "windowspecdefinition(__ent"],
    # paragraph dedup: first-occurrence pick is a digest-partitioned
    # window over the posexploded paragraphs
    "q_paragraph_dedup": ["Generate", "windowspecdefinition(__h"],
    # group-wise top-k: the rank filter must rewrite to WindowGroupLimit
    "q_topk_per_group": ["WindowGroupLimit(Partial)"],
    # semi/anti joins: filter-join operators, no fan-out join + distinct
    "q_outer_join_shapes": ["LeftSemi", "LeftAnti", "FullOuter"],
    # time-range window: entity-partitioned RANGE frame
    "q_moving_time_window": ["windowspecdefinition(user_id"],
    # EWMA + z-score: both windows entity-partitioned
    "q_ewma_anomaly": ["windowspecdefinition(user_id"],
    # validation: all row rules in ONE aggregate (single-scan pytest
    # pins the scan count; here pin the aggregate + fk join shapes)
    "q_validate_rules": ["HashAggregate", "Union"],
    # DSIR: feature counts combine map-side before the shuffle
    "q_dsir_weights": ["partial_count", "HashAggregate"],
    # PageRank: per-round dst aggregate; no cartesian anywhere (sweep)
    "q_pagerank": ["HashAggregate"],
    # SCD2 lookup: the interval conjuncts ride the key equi-join — the
    # no-cartesian sweep proves the equality key anchors the join
    "q_scd2_lookup": ["HashAggregate"],
    # TPC-H Q3 shape: filtered dims broadcast, bounded final sort
    "q_tpch_q3": ["BroadcastHashJoin", "TakeOrderedAndProject",
                  "EqualTo(c_mktsegment,BUILDING)"],
    # Q10 shape: 4-table broadcast chain, returnflag pushed, bounded sort
    "q_tpch_q10": ["BroadcastHashJoin", "TakeOrderedAndProject",
                   "EqualTo(l_returnflag,R)"],
    # Q4 shape: EXISTS = LeftSemi (never a fan-out join + distinct);
    # the quarter filter reaches the orders scan
    "q_tpch_q4": ["LeftSemi", "GreaterThanOrEqual(o_orderdate"],
    # Q6 shape: every bracket predicate pushed to the parquet scan
    "q_tpch_q6": ["GreaterThanOrEqual(l_shipdate",
                  "GreaterThanOrEqual(l_discount",
                  "LessThan(l_quantity,24.0)"],
    # Q1 shape: ONE hash-aggregate (map-side partial combine), the
    # ship-date cutoff pushed; six columns only reach the scan
    "q_tpch_q1": ["partial_count", "HashAggregate",
                  "LessThanOrEqual(l_shipdate"],
    # Q12 shape: one aggregate for both conditional counts; the
    # ship-date year reaches the lineitem scan
    "q_tpch_q12": ["HashAggregate", "GreaterThanOrEqual(l_shipdate"],
    # Q14 shape: part broadcasts; the month filter reaches lineitem
    "q_tpch_q14": ["BroadcastHashJoin", "GreaterThanOrEqual(l_shipdate"],
    # Q19 shape: the three-bracket DNF splits into PER-TABLE
    # disjunctions pushed to BOTH scans (quantity brackets to lineitem,
    # brand/size brackets to part) — one scan each, no post-join-only
    # filtering of unpruned data
    "q_tpch_q19": ["Or(Or(And(GreaterThanOrEqual(l_quantity",
                   "Or(Or(And(EqualTo(p_brand"],
    # Q17 shape: correlated scalar subquery DECORRELATED — the brand
    # filter reaches the part scan, the filtered dim broadcasts, and
    # the per-part threshold folds back as a broadcast join (no
    # per-row subquery operator, no cartesian — FORBIDDEN covers that)
    "q_tpch_q17": ["BroadcastHashJoin", "EqualTo(p_brand,Brand#4)",
                   "HashAggregate"],
    # Q21 shape: multi-EXISTS/NOT-EXISTS decorrelated into per-order
    # count-distinct aggregates + a LeftSemi back onto the late lines;
    # the status filter reaches the orders scan; supplier/nation
    # broadcast
    # (count_distinct compiles to the Expand + two-level aggregate)
    "q_tpch_q21": ["LeftSemi", "BroadcastHashJoin",
                   "EqualTo(o_orderstatus,F)", "Expand",
                   "HashAggregate"],
    # Q5 shape: region filter pushed and broadcast through the
    # nation/supplier/customer dims; the cross-dimension nation
    # equality rides the join condition (no cartesian — FORBIDDEN)
    "q_tpch_q5": ["BroadcastHashJoin", "EqualTo(r_name,AMERICA)",
                  "GreaterThanOrEqual(o_orderdate"],
    # Q7 shape: nation slices broadcast; the (A,B)/(B,A) disjunction is
    # a post-broadcast-join filter; the ship-year bracket reaches the
    # lineitem scan
    "q_tpch_q7": ["BroadcastHashJoin", "GreaterThanOrEqual(l_shipdate",
                  "HashAggregate"],
    # Q15 shape: the revenue-view max folds back as a broadcast 1-row
    # frame; Catalyst rewrites the cross-join + equality filter into a
    # BroadcastHashJoin ON the revenue value (argmax as an equi-join);
    # ship-date bracket pushed to the lineitem scan
    "q_tpch_q15": ["BroadcastHashJoin",
                   "GreaterThanOrEqual(l_shipdate", "HashAggregate"],
    # Q8 shape: part/nation/supplier dims broadcast; the p_type and
    # r_name filters and the order-date bracket all reach their scans;
    # the share ratio is ONE aggregate (CASE-sum / sum), never two
    # aggs + self-join
    "q_tpch_q8": ["BroadcastHashJoin", "EqualTo(p_type,ECONOMY)",
                  "EqualTo(r_name,AMERICA)",
                  "GreaterThanOrEqual(o_orderdate"],
    # Q13 shape: LEFT OUTER with the priority exclusion INSIDE the
    # join condition — pushed to the orders scan, never applied to
    # customers; double aggregation (per-customer, then histogram)
    "q_tpch_q13": ["LeftOuter", "Not(EqualTo(o_orderpriority,1-URGENT))",
                   "HashAggregate"],
    # Q18 shape: the IN + grouped-HAVING subquery is ONE partial-
    # combined hash-aggregate + join back; bounded final top-k
    "q_tpch_q18": ["partial_sum", "HashAggregate",
                   "TakeOrderedAndProject"],
    # Q22 shape: the scalar avg subquery folds in as a broadcast 1-row
    # frame (BNLJ, never a collect); NOT EXISTS compiles to LeftAnti;
    # the priority filter reaches the orders scan
    "q_tpch_q22": ["BroadcastNestedLoopJoin", "LeftAnti",
                   "EqualTo(o_orderpriority,1-URGENT)"],
    # seasonal decomposition: every window entity-partitioned; the
    # phase/centering means combine map-side (partial_sum of DECIMALs)
    "q_seasonal_decompose": ["windowspecdefinition(event_type",
                             "partial_sum", "HashAggregate"],
    # PSI drift: since the single-scan fix the <= n_buckets+2-row
    # bucket frame is localCheckpoint-ed BEFORE psi_total re-reads it,
    # so the visible plan is checkpoint scans + a broadcast total —
    # proof the corpus scans sit once, upstream of the checkpoint.
    # (The scan-pushdown needles moved behind the lineage cut; the
    # snapshot-split pushdown is still pinned by q_tpch_q4-style
    # entries that share the compile path.)
    "q_drift_psi": ["Scan ExistingRDD", "BroadcastNestedLoopJoin",
                    "partial_sum"],
    # sliding distinct: the tiny day list broadcasts into the trailing-
    # window theta join; the corpus appears only in the day-grain
    # distinct (partial-combined)
    "q_rolling_active": ["BroadcastNestedLoopJoin", "partial_count"],
    # TF-IDF top terms: per-doc rank is group-limit bounded, and the
    # output doc slice pushes down THROUGH the window to the scan
    "q_tfidf_terms": ["WindowGroupLimit(Partial)", "LessThan(doc_id,50)"],
    # TF-IDF pairs: final k is a bounded top-k, aggregates combine
    # map-side; the no-cartesian sweep pins the token-blocked pair join
    "q_tfidf_pairs": ["TakeOrderedAndProject", "partial_count"],
    # fuzzy ER join: the length-band block is an EQUI-join (hash/SMJ,
    # never a nested loop over all pairs); levenshtein runs in-plan
    "q_fuzzy_match": ["levenshtein", "TakeOrderedAndProject"],
    # grouped percentiles: group-partitioned sort window + conditional
    # pick — NO percentile value-map aggregate in the plan
    "q_grouped_percentiles": ["windowspecdefinition(__g"],
    # per-group winsorize: the |groups|x2 bounds frame broadcasts back
    "q_winsorize_grouped": ["windowspecdefinition(__g",
                            "BroadcastHashJoin"],
    # event paths: lead() over the entity-partitioned window, bounded
    # final top-k
    "q_event_paths": ["windowspecdefinition(user_id",
                      "TakeOrderedAndProject"],
    # robust prune (r10): every ranking window node-partitioned (the
    # candidate ranks and the final degree cap — never a global sort),
    # and the degree cap rewrites to a group limit; the no-cartesian
    # sweep pins the covering-pair join to the node_id key
    "q_graph_prune": ["windowspecdefinition(node_id",
                      "WindowGroupLimit(Partial)"],
    # CCNet buckets (r10 single-exchange path): both the in-group rank
    # and the threshold extraction are LANG-partitioned windows — no
    # global window, no percentile value-map aggregate
    "q_ppl_buckets": ["windowspecdefinition(lang"],
}

#: a needle ``Node(Mode)`` (e.g. ``WindowGroupLimit(Partial)``, the
#: map-side group limit below the exchange) must match a plan node of
#: that name whose formatted ``Arguments`` end in that mode — a plain
#: substring would also accept the Final node alone
_NODE_MODE = re.compile(r"(\w+)\((Partial|Final)\)")


def _present(plan: str, needle: str) -> bool:
    m = _NODE_MODE.fullmatch(needle)
    if m is None:
        return needle in plan
    node = rf"^\(\d+\) {m[1]}\n(?:.+\n)*?Arguments: .*, {m[2]}$"
    return re.search(node, plan, re.M) is not None


#: plans that must NOT contain these operators (checked for every query
#: in CHECKS): an unblocked pair stage would appear as a cartesian
FORBIDDEN = ["CartesianProduct"]


def audit(spark, sf_dir: str) -> list[str]:
    """Run every plan-shape check; returns failure messages (empty = pass)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    failures = []
    for name, needles in CHECKS.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        missing = [n for n in needles if not _present(plan, n)]
        banned = [n for n in FORBIDDEN if n in plan]
        if missing or banned:
            failures.append(f"{name}: missing plan shapes: {missing}"
                            f" forbidden present: {banned}")
            print(f"FAIL {name}: missing plan shapes: {missing}"
                  f" forbidden present: {banned}")
        else:
            print(f"ok   {name}: {len(needles)} plan shapes present")
    return failures


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from tostore_spark import get_spark

    spark = get_spark(app_name="explain-audit")
    sys.exit(1 if audit(spark, sf_dir) else 0)


if __name__ == "__main__":
    main()
