"""tools/capture_plans.canonical_plan: the same count-distinct plan, printed
with different expression ids and in the other group order, canonicalizes
to the same text; a real plan change still shows."""

from __future__ import annotations

from tools.capture_plans import canonical_plan

ALONE = """(2) Expand
Input [2]: [user_id#2L, event_type#3]
Arguments: [[null, null, 0], [user_id#2L, null, 1], [null, event_type#3, 2]], [user_id#23L, event_type#24, gid#22]

(4) Exchange
Input [4]: [user_id#23L, event_type#24, gid#22, count#36L]
Arguments: hashpartitioning(user_id#23L, event_type#24, gid#22, 4), ENSURE_REQUIREMENTS, [plan_id=22]

(6) HashAggregate
Functions [3]: [partial_count(user_id#23L) FILTER (WHERE (gid#22 = 1)), partial_first(count(1)#25L, true) FILTER (WHERE (gid#22 = 0)), partial_count(event_type#24) FILTER (WHERE (gid#22 = 2))]
"""

# The same plan after the session built other expressions first: new ids,
# and the rewrite ordered the two distinct groups the other way round.
LATER = """(2) Expand
Input [2]: [user_id#902L, event_type#903]
Arguments: [[null, null, 0], [event_type#903, null, 1], [null, user_id#902L, 2]], [event_type#924, user_id#925L, gid#922]

(4) Exchange
Input [4]: [event_type#924, user_id#925L, gid#922, count#936L]
Arguments: hashpartitioning(event_type#924, user_id#925L, gid#922, 4), ENSURE_REQUIREMENTS, [plan_id=87]

(6) HashAggregate
Functions [3]: [partial_count(user_id#925L) FILTER (WHERE (gid#922 = 2)), partial_first(count(1)#925L, true) FILTER (WHERE (gid#922 = 0)), partial_count(event_type#924) FILTER (WHERE (gid#922 = 1))]
"""


def test_canonical_plan_ignores_ids_and_distinct_group_order():
    assert canonical_plan(ALONE) == canonical_plan(LATER)
    assert "#2" not in canonical_plan(ALONE) and "plan_id=22" not in canonical_plan(ALONE)


def test_canonical_plan_keeps_real_changes():
    # a different partition count, and a filter moved to another group
    assert canonical_plan(ALONE) != canonical_plan(ALONE.replace("gid#22, 4)", "gid#22, 8)"))
    moved = ALONE.replace("partial_count(event_type#24) FILTER (WHERE (gid#22 = 2))",
                          "partial_count(event_type#24) FILTER (WHERE (gid#22 = 1))")
    assert canonical_plan(ALONE) != canonical_plan(moved)
