#!/usr/bin/env python
"""Plan the staging promotion for the upcoming rounds — which STAGED
drafts (plans/staging_r15.py) register NOW and which wait, computed
from the same rotation arithmetic the driver window obeys:

    python tools/promote_staging.py          # greppable plan

The never-bucket (new registrations) sorts AHEAD of the changed bucket
in compute_driver_priority, so registering one draft too many silently
pushes a changed entry (e.g. a queued rewrite's recertification, or
image_jpeg420_planes' pending zigzag recert) out of the window. This
tool does the arithmetic: free = DRIVER_WINDOW - at_bound - pinned,
reserve |changed| + |planned rewrites| slots, promote at most the
remainder this round, in STAGED insertion order (the drafting session's
priority). Prints one `PROMOTEPLAN {json}` line (grep -a PROMOTEPLAN).

Promotion day checklist (per promoted entry):
  1. move the draft function + oracle into the owning plans module and
     wrap with @register(name, oracle=..., description=..., tags=...)
     — description/tags are already in STAGED in final form;
  2. delete the staging copy; keep shared helpers (e.g.
     resessionize_atoms feeds streaming/session_store.py) by moving
     them to operators/, updating the maintainer import;
  3. tests/test_staging_r15.py's not-yet-registered guard inverts by
     itself (it asserts no STAGED name is in CATALOG);
  4. re-run tools/window_projection.py — the promoted names must show
     in the `never` cohort INSIDE the window, with zero at-bound or
     changed names missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.parse_args()

    from windowsession_using_kafka_flink_docker_spark.plans import catalog as cat
    from windowsession_using_kafka_flink_docker_spark.plans import (
        fingerprints as fp,
    )
    from windowsession_using_kafka_flink_docker_spark.plans import (
        staging_r15 as staging,
    )

    STAGED = staging.STAGED
    # The rewrite queue is deleted from the staging module once its
    # entries land (the r16 quality_scores precedent) — an absent
    # attribute means an empty queue, not an error.
    REWRITES = getattr(staging, "REWRITES", {})

    last_green, _latest = cat.driver_history()
    names = list(cat.CATALOG)
    changed = set(fp.changed_entries(cat.CATALOG, fp.load_recorded()))

    # Next round's window composition BEFORE any promotion: the SAME
    # cohort computation compute_driver_priority runs (shared helper —
    # r14 ADVICE closed the re-implementation drift risk). Note the
    # already-registered never-checked entries occupy never-bucket
    # slots AHEAD of the changed cohort (e.g. a promotion split across
    # sessions) — they are part of the window base, not free capacity.
    at_bound, pinned, never_registered, next_round = \
        cat.window_cohorts(names, last_green)
    base = len(at_bound) + len(pinned) + len(never_registered)
    free = cat.DRIVER_WINDOW - base

    # Reserve slots for entries that MUST recertify next round: the
    # already-changed set, plus rewrites that will flag their target
    # changed the moment they land.
    pending_rewrites = sorted(set(REWRITES) - changed)
    reserve = sorted(changed) + pending_rewrites
    promotable = max(0, free - len(reserve))

    staged_order = [n for n in STAGED if n not in set(names)]
    now = staged_order[:promotable]
    later = staged_order[promotable:]

    capacity = (cat.STALENESS_BOUND + 1) * cat.DRIVER_WINDOW \
        - cat.STALENESS_BOUND * len(cat.PINNED)
    plan = {
        "next_round": next_round,
        "window": cat.DRIVER_WINDOW,
        "at_bound": len(at_bound),
        "pinned": len(pinned),
        "never_registered": len(never_registered),
        "free_slots": free,
        "reserved_for_changed": reserve,
        "promote_now": now,
        "promote_later": later,
        "catalog_after_all": len(names) + len(staged_order),
        "capacity": capacity,
        "fits_capacity": len(names) + len(staged_order) <= capacity,
    }
    print("PROMOTEPLAN " + json.dumps(plan))
    return 0 if plan["fits_capacity"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
