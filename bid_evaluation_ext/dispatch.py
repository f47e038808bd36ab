"""Central read point for the dual-engine dispatch caps.

Every size-dispatched operator (local/kernel route below a data-derived
cap, distributed route above it) reads its cap through :func:`local_cap`
so that ONE switch can force the at-scale engines everywhere:

``SPARK_GRAFT_FORCE_DISTRIBUTED=1`` makes every cap 0, which fails every
"fits the local/kernel route" probe and sends each operator down its
distributed fallback — the route a 100 TB input would take. The
per-round forced-fallback wave (r12 verdict task 3) runs the registry
queries under this switch so the distributed engines stay *timed* and
*oracled*, not just plan-audited: at local SFs every dispatch otherwise
picks the kernel route and the fallbacks could silently rot.

Individual knobs (``SPARK_GRAFT_*_LOCAL_MAX*``) still override the
defaults when the switch is off — cluster profiles tune them per
operator, documented at each call site.
"""

from __future__ import annotations

import os


def force_distributed() -> bool:
    """True when the forced-fallback switch is on (any value but ''/'0')."""
    return os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") not in (
        "", "0")


def local_cap(name: str, default: int) -> int:
    """The dispatch cap ``name`` (env override, else ``default``), or 0 —
    "never take the local/kernel route" — under
    ``SPARK_GRAFT_FORCE_DISTRIBUTED``."""
    if force_distributed():
        return 0
    return int(os.environ.get(name, str(default)))
