"""The plan audit counts each node of a formatted plan once, although the
plan names it twice (tree line and details header); ``exchange`` counts
shuffle exchanges only, not the broadcast one."""

from tools.explain_audit import audit_line, node_counts

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- BroadcastHashJoin Inner BuildRight (11)
   :- Window (8)
   :  +- Sort (7)
   :     +- Exchange (6)
   :        +- SortMergeJoin Inner (5)
   :           :- Generate (2)
   :           :  +- LocalTableScan (1)
   :           +- Exchange (4)
   :              +- Scan ExistingRDD (3)
   +- BroadcastExchange (10)
      +- LocalTableScan (9)


(1) LocalTableScan
Output [1]: [a#1]
Arguments: [a#1]

(2) Generate
Input [1]: [a#1]
Arguments: explode(array(a#1)), [a#1], false, [b#2]

(3) Scan ExistingRDD [codegen id : 1]
Output [1]: [c#3]
Arguments: [c#3], MapPartitionsRDD[6] at localCheckpoint, ExistingRDD, UnknownPartitioning(0)

(4) Exchange
Input [1]: [c#3]
Arguments: hashpartitioning(c#3, 8), ENSURE_REQUIREMENTS, [plan_id=1]

(5) SortMergeJoin
Left keys [1]: [b#2]
Right keys [1]: [c#3]
Join type: Inner
Join condition: None

(6) Exchange
Input [2]: [b#2, c#3]
Arguments: rangepartitioning(b#2 ASC NULLS FIRST, 8), ENSURE_REQUIREMENTS, [plan_id=2]

(7) Sort
Input [2]: [b#2, c#3]
Arguments: [b#2 ASC NULLS FIRST], true, 0

(8) Window
Input [2]: [b#2, c#3]
Arguments: [row_number() windowspecdefinition(b#2 ASC NULLS FIRST) AS r#4], [b#2 ASC NULLS FIRST]

(9) LocalTableScan
Output [1]: [b#5]
Arguments: [b#5]

(10) BroadcastExchange
Input [1]: [b#5]
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=3]

(11) BroadcastHashJoin
Left keys [1]: [b#2]
Right keys [1]: [b#5]
Join type: Inner
Join condition: None

(12) AdaptiveSparkPlan
Output [3]: [b#2, c#3, b#5]
Arguments: isFinalPlan=false
"""


def test_node_counts_one_per_node():
    assert node_counts(PLAN) == {
        "exchange": 2,
        "bhj": 1,
        "smj": 1,
        "cartesian": 0,
        "localScan": 2,
        "window": 1,
        "generate": 1,
        "pyEval": 0,
        "rangePart": 1,
        "codegen": 1,
    }


def test_audit_line():
    assert audit_line(PLAN) == (
        "codegen=1 exchange=2 bhj=1 smj=1 cartesian=0 localScan=2 window=1 rangePart=1 "
        "generate=1 pyEval=0 pushedFilters=none"
    )
