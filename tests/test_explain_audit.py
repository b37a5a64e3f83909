"""tools/explain_audit.py writes PLANS.md with Spark's per-session ids
masked, so two runs over unchanged plans write the same bytes."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "explain_audit", os.path.join(REPO, "tools", "explain_audit.py")
)
explain_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_audit)

# the same plan fragments as two sessions print them
_RUN_1 = """\
(1) Scan parquet  [codegen id : 1]
Output [5]: [l_quantity#4, l_extendedprice#5, count#47L, l_returnflag#8]
(5) Exchange
Arguments: hashpartitioning(l_returnflag#8, 4), ENSURE_REQUIREMENTS, [plan_id=15]
(7) ReusedExchange [Reuses operator id: 5]
Arguments: [id=#7]
Arguments: [u#3], SQLExecutionRDD[758] at toRdd at <unknown>:0, ExistingRDD
"""
_RUN_2 = """\
(1) Scan parquet  [codegen id : 1]
Output [5]: [l_quantity#1204, l_extendedprice#1205, count#1247L, l_returnflag#1208]
(5) Exchange
Arguments: hashpartitioning(l_returnflag#1208, 4), ENSURE_REQUIREMENTS, [plan_id=912]
(7) ReusedExchange [Reuses operator id: 5]
Arguments: [id=#930]
Arguments: [u#1203], SQLExecutionRDD[761] at toRdd at <unknown>:0, ExistingRDD
"""


def test_mask_session_ids_makes_reruns_identical():
    masked = explain_audit.mask_session_ids(_RUN_1)
    assert masked == explain_audit.mask_session_ids(_RUN_2)
    assert masked == """\
(1) Scan parquet  [codegen id : 1]
Output [5]: [l_quantity#_, l_extendedprice#_, count#_L, l_returnflag#_]
(5) Exchange
Arguments: hashpartitioning(l_returnflag#_, 4), ENSURE_REQUIREMENTS, [plan_id=_]
(7) ReusedExchange [Reuses operator id: 5]
Arguments: [id=#_]
Arguments: [u#_], SQLExecutionRDD[_] at toRdd at <unknown>:0, ExistingRDD
"""
