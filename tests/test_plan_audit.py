"""tools/plan_audit.py digests count the same things in both plan formats.

The two canned plans below are one query — a grouped count (hash
exchange), ordered by the count (range exchange), unioned with a global
count (SinglePartition exchange), then fed to ``mapInArrow`` — printed
in tree format (``executedPlan().toString()``) and in
``explain('formatted')`` format.
"""

from tools.plan_audit import digest, digest_formatted

TREE_PLAN = """\
MapInArrow enrich(k#1L, n#2L)#17, [k#18L, n#19L], false
+- Union
   :- *(3) Sort [n#2L ASC NULLS FIRST], true, 0
   :  +- Exchange rangepartitioning(n#2L ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=50]
   :     +- *(2) HashAggregate(keys=[k#1L], functions=[count(1)], output=[k#1L, n#2L])
   :        +- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=46]
   :           +- *(1) HashAggregate(keys=[k#1L], functions=[partial_count(1)], output=[k#1L, count#14L])
   :              +- *(1) Project [(id#0L % 7) AS k#1L]
   :                 +- *(1) Range (0, 100, step=1, splits=4)
   +- *(5) HashAggregate(keys=[], functions=[count(1)], output=[k#10L, n#6L])
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=55]
         +- *(4) HashAggregate(keys=[], functions=[partial_count(1)], output=[count#16L])
            +- *(4) Project
               +- *(4) Range (0, 100, step=1, splits=4)
"""

FORMATTED_PLAN = """\
== Physical Plan ==
MapInArrow (14)
+- Union (13)
   :- * Sort (7)
   :  +- Exchange (6)
   :     +- * HashAggregate (5)
   :        +- Exchange (4)
   :           +- * HashAggregate (3)
   :              +- * Project (2)
   :                 +- * Range (1)
   +- * HashAggregate (12)
      +- Exchange (11)
         +- * HashAggregate (10)
            +- * Project (9)
               +- * Range (8)


(1) Range [codegen id : 1]
Output [1]: [id#0L]
Arguments: Range (0, 100, step=1, splits=Some(4))

(2) Project [codegen id : 1]
Output [1]: [(id#0L % 7) AS k#1L]
Input [1]: [id#0L]

(3) HashAggregate [codegen id : 1]
Input [1]: [k#1L]
Keys [1]: [k#1L]
Functions [1]: [partial_count(1)]
Aggregate Attributes [1]: [count#13L]
Results [2]: [k#1L, count#14L]

(4) Exchange
Input [2]: [k#1L, count#14L]
Arguments: hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=46]

(5) HashAggregate [codegen id : 2]
Input [2]: [k#1L, count#14L]
Keys [1]: [k#1L]
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#5L]
Results [2]: [k#1L, count(1)#5L AS n#2L]

(6) Exchange
Input [2]: [k#1L, n#2L]
Arguments: rangepartitioning(n#2L ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=50]

(7) Sort [codegen id : 3]
Input [2]: [k#1L, n#2L]
Arguments: [n#2L ASC NULLS FIRST], true, 0

(8) Range [codegen id : 4]
Output [1]: [id#11L]
Arguments: Range (0, 100, step=1, splits=Some(4))

(9) Project [codegen id : 4]
Output: []
Input [1]: [id#11L]

(10) HashAggregate [codegen id : 4]
Input: []
Keys: []
Functions [1]: [partial_count(1)]
Aggregate Attributes [1]: [count#15L]
Results [1]: [count#16L]

(11) Exchange
Input [1]: [count#16L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=55]

(12) HashAggregate [codegen id : 5]
Input [1]: [count#16L]
Keys: []
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#9L]
Results [2]: [0 AS k#10L, count(1)#9L AS n#6L]

(13) Union

(14) MapInArrow
Input [2]: [k#1L, n#2L]
Arguments: enrich(k#1L, n#2L)#17, [k#18L, n#19L], false
"""


def test_tree_and_formatted_digests_agree():
    tree = digest(TREE_PLAN)
    formatted = digest_formatted(FORMATTED_PLAN)
    assert tree == formatted
    # the hash AND the range shuffle are exchanges; SinglePartition apart
    assert tree["exchanges"] == 2
    assert tree["single_partition_exchanges"] == 1
    assert tree["codegen_stages"] == 5
    assert tree["python_stages"] == 1  # the MapInArrow node


def test_formatted_exchange_tolerates_lines_before_arguments():
    extra = FORMATTED_PLAN.replace(
        "(4) Exchange\nInput [2]: [k#1L, count#14L]\n",
        "(4) Exchange\nOutput [2]: [k#1L, count#14L]\n"
        "Input [2]: [k#1L, count#14L]\n",
    )
    assert extra != FORMATTED_PLAN
    assert digest_formatted(extra)["exchanges"] == 2
