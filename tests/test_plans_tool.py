"""tools/plans.py: PLANS.md is the same for the same plans."""

from tools.plans import normalise_expands

# a distinct-aggregate rewrite of count(DISTINCT k), count(DISTINCT v)
# and min(k): the two texts differ only in the order Spark gave the
# distinct groups (k then v, or v then k)
K_FIRST = """\
(2) Expand
Input [2]: [k#1, v#2]
Arguments: [[null, null, 0, k#1], [k#1, null, 1, null], [null, v#2, 2, null]], [k#5, v#6, gid#4, k#7]

(3) HashAggregate
Input [4]: [k#5, v#6, gid#4, k#7]
Keys [3]: [k#5, v#6, gid#4]
Functions [1]: [partial_min(k#7)]

(4) Exchange
Input [4]: [k#5, v#6, gid#4, min#9]
Arguments: hashpartitioning(k#5, v#6, gid#4, 8), ENSURE_REQUIREMENTS, [plan_id=1]

(5) Sort
Arguments: [k#5 ASC NULLS FIRST, v#6 ASC NULLS FIRST, gid#4 ASC NULLS FIRST], false, 0

(6) HashAggregate
Functions [3]: [count(k#5) FILTER (WHERE (gid#4 = 1)), count(v#6) FILTER (WHERE (gid#4 = 2)), \
first(min(k#7)#10, true) FILTER (WHERE (gid#4 = 0))]"""

V_FIRST = """\
(2) Expand
Input [2]: [k#1, v#2]
Arguments: [[null, null, 0, k#1], [v#2, null, 1, null], [null, k#1, 2, null]], [v#6, k#5, gid#4, k#7]

(3) HashAggregate
Input [4]: [v#6, k#5, gid#4, k#7]
Keys [3]: [v#6, k#5, gid#4]
Functions [1]: [partial_min(k#7)]

(4) Exchange
Input [4]: [v#6, k#5, gid#4, min#9]
Arguments: hashpartitioning(v#6, k#5, gid#4, 8), ENSURE_REQUIREMENTS, [plan_id=1]

(5) Sort
Arguments: [v#6 ASC NULLS FIRST, k#5 ASC NULLS FIRST, gid#4 ASC NULLS FIRST], false, 0

(6) HashAggregate
Functions [3]: [count(k#5) FILTER (WHERE (gid#4 = 2)), count(v#6) FILTER (WHERE (gid#4 = 1)), \
first(min(k#7)#10, true) FILTER (WHERE (gid#4 = 0))]"""


def test_group_order_of_an_expand_is_normalised():
    assert V_FIRST != K_FIRST
    assert normalise_expands(V_FIRST) == K_FIRST
    assert normalise_expands(K_FIRST) == K_FIRST


def test_plan_without_a_distinct_expand_is_unchanged():
    rollup = """\
(2) Expand
Input [2]: [a#1, b#2]
Arguments: [[a#1, b#2, 0], [a#1, null, 1]], [a#1, b#3, spark_grouping_id#4L]"""
    plain = "(1) Scan parquet\nOutput [1]: [a#1]"
    assert normalise_expands(rollup) == rollup
    assert normalise_expands(plain) == plain
