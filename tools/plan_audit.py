#!/usr/bin/env python3
"""Plan-shape gate: run after `sbt "runMain graft.Explain <sfDir>" > out.txt`
to assert no query gained an unapproved non-equi join, a cartesian
product, or a single-partition funnel (a Window over an empty partitionBy,
or an Exchange SinglePartition that carries data rows). Exits 1 listing
offenders.

Usage: python3 tools/plan_audit.py /tmp/explain_out.txt
       python3 tools/plan_audit.py --selftest
"""
import sys, re

# the only queries allowed a BroadcastNestedLoopJoin: a bounded band-range
# join, the one-row-probe broadcasts, the 1x1 combines of two single-row
# aggregates (agg_sketch_merge: exact count x sketch estimate;
# graph_triangles: degree stats x triangle count), and the days x types
# dimension scaffold (events_grid: both sides group-bounded distinct
# sets — the one place a cross product is the intended semantics)
# (see PLANS.md "Known intentional non-equi plans"). ml_kmeans left this
# list in round 10: its centroid candidates fold in-row (flat least() over
# literal structs), so any join in its assignment stage is a regression.
BNLJ_ALLOWED = {"join_range", "sim_topk", "sim_topk_native", "sim_ann_lsh", "sim_ann_ivf",
                "sim_radius", "sim_sq8", "sim_matryoshka", "agg_sketch_merge", "graph_triangles",
                "events_grid",
                # scalar corpus-max (1-row aggregate) broadcast back onto the
                # per-user frame — the standard scalar-subquery join shape
                "events_rfm",
                # TPC-H Q22's scalar avg gate as an exact-integer 1-row
                # positive-balance aggregate broadcast onto the bucketed
                # customer frame — the same scalar-subquery shape
                "join_q22_global",
                # same shape: the censor horizon (corpus-max last-seen, a
                # 1-row aggregate) broadcast onto the per-user lifetimes
                "events_survival",
                # total-user count (1-row aggregate) broadcast onto the
                # ~|types|^2 support table for the permille denominators
                "events_seq_pairs",
                # two 1-row scalar aggregates (corpus token total; the
                # corpus-wide sum of pa^2) broadcast onto the vocab and
                # per-source rollup frames — the union-decomposition of
                # the L2 drift needs both as shared scalars
                "text_vocab_drift",
                # 1-row token-total aggregate broadcast onto the
                # LIMIT(20)-bounded top-word frame for the share permilles
                "text_zipf",
                # the standard 1-row probe-vector broadcast of the sim_*
                # plane (plus the 10-row exact top-10 set re-broadcast)
                "sim_recall_curve",
                # the 1-row winsor-edge aggregate broadcast back onto the
                # corpus scan (events_rfm scalar shape)
                "agg_winsorized_mean",
                # the 1-row edge-count aggregate broadcast onto the
                # per-community frame for the 4m*e_in - d^2 terms
                "graph_modularity"}

# Queries whose plans must have ZERO Exchange partitioned on vec_id — the
# fanout-groupBy-argmin regression guard. These rank a bounded candidate
# set per vector (k centroids / #cells); the correct shape folds the
# argmin IN-ROW over literal candidate structs (KMeans.assign round 10),
# so any hashpartitioning(vec_id...) Exchange means the k-way fanout +
# re-group corpus shuffle came back. (sim_knn_join is NOT here: its
# per-vector window ranks an unbounded within-cell candidate set — a
# genuine top-k over data, planned with WindowGroupLimit.)
NO_VEC_ID_EXCHANGE = {"ml_kmeans"}

# Queries allowed a Window over an EMPTY partitionBy (global total order
# through one partition). Empty on purpose: the pattern is banned — exact
# global ranks come from DistributedRank (range Exchange + per-partition
# offsets) instead. Add a query here only with a written bound on its row
# count at scale.
GLOBAL_WINDOW_ALLOWED = set()

# Queries allowed an Exchange SinglePartition whose CHILD is not an
# aggregate. Aggregate-fed single-partition exchanges (scalar aggregates:
# one partial row per upstream partition) are always fine and are
# auto-allowed; a LIMIT-class single-partition collect of an already
# top-k-pruned stream is bounded by the limit itself.
# events_benford: the exchange feeds the KEYED digit histogram into the
# total-permille window — bounded at 9 rows by the first-digit domain
# (leading digits of positive integers are 1..9), not by data volume.
# events_survival: the exchange feeds the per-lifetime-DAY risk frame into
# the reverse cumulative at-risk window — bounded by the observation span
# in days (lifetimes can't exceed the corpus time range), not data volume.
# text_zipf: the exchange feeds the LIMIT(20)-pruned top-word frame into
# the rank window — bounded at 20 rows by the limit, not by data volume.
# agg_chi2: the exchange feeds the priority x status contingency CELLS
# into the row/col/grand-total windows — bounded by the categorical
# domain product (5x3 here), not data volume.
# agg_ks_test / agg_drift_tvd / agg_mannwhitney: the exchange feeds the
# quantity-value HISTOGRAM into the cumulative/total windows — bounded by
# the value domain (<=50 quantities), not data volume.
# agg_spearman: the exchanges feed the two per-user-metric value
# histograms into the rank cumulative windows — bounded by metric
# cardinality (distinct activity counts), not user count.
# prep_curriculum: the exchange feeds the 4-stage difficulty rollup into
# the corpus-share window — bounded at 4 rows by the stage domain.
# events_lorenz: the exchanges feed the per-user-count histogram (metric
# cardinality) and the 10-row decile frame into rank/cumulative windows —
# bounded by value domain and decile count, not user volume.
# prep_balanced_sample: the exchange feeds the per-LANG count frame into
# the start-offset/min-k windows — bounded by language cardinality, not
# document volume (the doc-volume rank is DistributedRank's range
# exchange, fully parallel).
# agg_bootstrap_ci: the exchange feeds the 100-row replicate-mean frame
# into the order-statistic rank window — bounded by the replicate count,
# not data volume.
# sim_recall_curve: the exchanges feed the |cells|-row centroid frame
# into the cell-rank window — bounded by cell count (~sqrt(n) lists at a
# real deployment, 10 here), not corpus volume; the corpus-sized top-10
# windows are nprobe-keyed and plan as WindowGroupLimit.
SINGLE_PARTITION_ALLOWED = {"sort_paginate", "events_benford", "events_survival",
                            "text_zipf", "agg_chi2", "agg_ks_test",
                            "agg_drift_tvd", "agg_spearman", "agg_mannwhitney",
                            "prep_curriculum", "events_lorenz",
                            "prep_balanced_sample", "sim_recall_curve",
                            "agg_bootstrap_ci"}

# ---------------------------------------------------------------------------
# formatted-explain parsing

NODE_HEADER = re.compile(r"^(?:\[info\]\s*)?\((\d+)\) ([A-Za-z]+)")
# Window detail: Arguments: [exprs...], [partitionSpec], [orderSpec]
WINDOW_ARGS_TAIL = re.compile(r"\],\s*\[([^\[\]]*)\],\s*\[[^\[\]]*\]\s*$")


def strip_info(line):
    return re.sub(r"^\[info\]\s?", "", line)


def audit_section(name, body):
    """Return list of offender strings for one query's formatted plan."""
    bad = []
    if "CartesianProduct" in body:
        bad.append(f"{name}: CartesianProduct")
    if "BroadcastNestedLoopJoin" in body and name not in BNLJ_ALLOWED:
        bad.append(f"{name}: unapproved BroadcastNestedLoopJoin")
    if "explain failed" in body:
        bad.append(f"{name}: explain failed")

    lines = [strip_info(l) for l in body.splitlines()]

    # Node-detail pass: map node id -> (class, full detail block)
    nodes = {}
    headers = [(i, int(m.group(1)), m.group(2))
               for i, l in enumerate(lines) if (m := NODE_HEADER.match(l))]
    for k, (i, nid, cls) in enumerate(headers):
        end = headers[k + 1][0] if k + 1 < len(headers) else len(lines)
        nodes[nid] = (cls, "\n".join(lines[i:end]))

    # Fanout-argmin regression guard: no Exchange keyed on vec_id
    if name in NO_VEC_ID_EXCHANGE:
        for nid, (cls, detail) in nodes.items():
            if cls == "Exchange" and re.search(r"hashpartitioning\(vec_id", detail):
                bad.append(f"{name}: Exchange hashpartitioning(vec_id) (node {nid}) "
                           "— the fanout-groupBy-argmin corpus shuffle is back")

    # Global windows: partitionSpec printed as an empty bracket group
    for nid, (cls, detail) in nodes.items():
        if cls != "Window":
            continue
        args = next((l for l in detail.splitlines() if l.startswith("Arguments:")), "")
        m = WINDOW_ARGS_TAIL.search(args)
        if m and m.group(1).strip() == "" and name not in GLOBAL_WINDOW_ALLOWED:
            bad.append(f"{name}: Window over empty partitionBy (node {nid})")

    # SinglePartition exchanges: find the tree line `... Exchange (N)`; the
    # child (next tree line) must be a SCALAR aggregate (`Keys: []` — the
    # final step of a global agg, one partial row per upstream partition,
    # bounded). A keyed aggregate or anything else below a SinglePartition
    # exchange funnels data rows through one partition.
    sp_ids = {nid for nid, (cls, detail) in nodes.items()
              if cls == "Exchange" and "Arguments: SinglePartition" in detail}
    if sp_ids and name not in SINGLE_PARTITION_ALLOWED:
        for i, l in enumerate(lines):
            m = re.search(r"Exchange \((\d+)\)\s*$", l)
            if not m or int(m.group(1)) not in sp_ids:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            cm = re.search(r"([A-Za-z]+) \((\d+)\)\s*$", child)
            child_detail = nodes.get(int(cm.group(2)), ("", ""))[1] if cm else ""
            scalar_agg = (cm and "Aggregate" in cm.group(1)
                          and "Keys: []" in child_detail)
            if not scalar_agg:
                bad.append(
                    f"{name}: Exchange SinglePartition (node {m.group(1)}) "
                    f"feeds data rows (child: {child.strip() or '?'})")
    return bad


# the section header graft.Explain prints before each query: a whole line
# naming a lowercase query. Spark's own "===== Subqueries =====" banner
# inside a formatted plan is not a query; it stays in its query's body.
SECTION_HEADER = re.compile(r"^(?:\[info\]\s?)?===== ([a-z][a-z0-9_]*) =====\s*$",
                            re.M)


def split_sections(text):
    """[(query name, plan text), ...] in dump order."""
    parts = SECTION_HEADER.split(text)  # [preamble, name1, body1, ...]
    return list(zip(parts[1::2], parts[2::2]))


def main():
    sections = split_sections(open(sys.argv[1]).read())
    bad = []
    for name, body in sections:
        bad.extend(audit_section(name, body))
    if bad:
        print("PLAN AUDIT FAILED:")
        for b in bad:
            print(" ", b)
        sys.exit(1)
    n = len(sections)
    # say exactly what is enforced: global windows / data-bearing
    # SinglePartition exchanges are banned OUTSIDE the documented
    # bounded-domain allowlists above (each entry carries an in-file
    # row-bound rationale) — not absent from every plan
    print(f"plan audit OK: {n} queries — no cartesians, no unapproved global "
          f"windows, no unapproved data-bearing SinglePartition exchanges "
          f"({len(SINGLE_PARTITION_ALLOWED)} allowlisted bounded-domain frames); "
          f"BNLJ only in {sorted(BNLJ_ALLOWED)}")


# ---------------------------------------------------------------------------
# embedded self-test: real formatted-explain snippets (captured from Spark
# 4.1.2) — the pre-round-8 global-window shape must go RED, the re-shaped
# plan and the scalar-aggregate exchange must stay GREEN.

OLD_GLOBAL_WINDOW = """\
* Project (9)
+- Window (8)
   +- * Sort (7)
      +- Exchange (6)
         +- * HashAggregate (5)

(5) HashAggregate [codegen id : 1]
Input [2]: [user_id#2L, sum#40L]
Keys [1]: [user_id#2L]
Functions [1]: [sum(cents#5L)]

(6) Exchange
Input [3]: [user_id#2L, freq#11L, monetary#12L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=100]

(8) Window
Input [3]: [user_id#2L, freq#11L, monetary#12L]
Arguments: [ntile(5) windowspecdefinition(freq#11L DESC NULLS LAST, user_id#2L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r_tile#20], [], [freq#11L DESC NULLS LAST, user_id#2L ASC NULLS FIRST]
"""

NEW_SHAPE = """\
* Project (9)
+- Window (8)
   +- * Sort (7)
      +- Exchange (6)
         +- * BroadcastHashJoin Inner BuildRight (5)

(6) Exchange
Input [4]: [__pid#39, user_id#2L, freq#11L, __roff#50L]
Arguments: hashpartitioning(__pid#39, 4), ENSURE_REQUIREMENTS, [plan_id=101]

(8) Window
Input [4]: [__pid#39, user_id#2L, freq#11L, __roff#50L]
Arguments: [row_number() windowspecdefinition(__pid#39, freq#11L DESC NULLS LAST, user_id#2L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS _we0#60], [__pid#39], [freq#11L DESC NULLS LAST, user_id#2L ASC NULLS FIRST]
"""

SCALAR_AGG = """\
* HashAggregate (4)
+- Exchange (3)
   +- * HashAggregate (2)

(2) HashAggregate [codegen id : 1]
Input [1]: [last_es#34L]
Keys: []
Functions [1]: [partial_max(last_es#34L)]

(3) Exchange
Input [1]: [max#30L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=102]
"""


FANOUT_ARGMIN = """\
* HashAggregate (6)
+- Exchange (5)
   +- * HashAggregate (4)
      +- * BroadcastNestedLoopJoin Cross BuildRight (3)

(5) Exchange
Input [3]: [vec_id#2L, min#40, first#41]
Arguments: hashpartitioning(vec_id#2L, 4), ENSURE_REQUIREMENTS, [plan_id=103]
"""


def selftest():
    red = audit_section("events_rfm", OLD_GLOBAL_WINDOW)
    assert any("empty partitionBy" in b for b in red), red
    assert any("SinglePartition" in b for b in red), red
    assert audit_section("events_rfm", NEW_SHAPE) == []
    assert audit_section("events_rfm", SCALAR_AGG) == []
    assert audit_section("x", "CartesianProduct") == ["x: CartesianProduct"]
    red = audit_section("ml_kmeans", FANOUT_ARGMIN)
    assert any("fanout-groupBy-argmin" in b for b in red), red
    assert any("unapproved BroadcastNestedLoopJoin" in b for b in red), red
    assert audit_section("sim_knn_join", FANOUT_ARGMIN.replace(
        "BroadcastNestedLoopJoin Cross BuildRight", "SortMergeJoin Inner")) == []
    dump = ("\n===== filter_pred =====\n" + SCALAR_AGG +
            "\n===== Subqueries =====\n\nSubquery:1 Hosting operator id = 2\n" +
            "[info] \n[info] ===== events_rfm =====\n" + NEW_SHAPE)
    sections = split_sections(dump)
    assert [n for n, _ in sections] == ["filter_pred", "events_rfm"], sections
    assert "Subquery:1" in sections[0][1], sections
    print("plan_audit selftest OK (old global-window shape RED, re-shaped plan GREEN, "
          "ml_kmeans vec_id-exchange RED, Subqueries banner stays in its query)")


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        selftest()
    else:
        main()
