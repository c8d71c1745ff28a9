"""Higher-order-function helpers shared by the scan-only operators.

`let` works around a Catalyst behavior that bites every HOF-heavy
operator here: a column computed in one projection and referenced k
times by the next is INLINED k times by CollapseProject (an exchange
between the projections does not reliably stop it, and lambda bodies
get no common-subexpression elimination), so an expensive subtree such
as a per-shingle md5 chain silently re-evaluates once per reference —
or once per array element when referenced inside a lambda.

    let(expensive, lambda v: body_using_v_many_times)

binds the subtree to a lambda variable: `transform(array(x), f)[0]`
evaluates `x` exactly once per row and every `v` reference reads the
bound value. For a barrier that survives *downstream* multi-reference
(filter + several field projections), explode a 1-element array of a
struct instead — Generate is a node CollapseProject cannot cross; see
`dedup.lsh_candidate_pairs`.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate `value` once per row; `body` may reference it freely."""
    return F.transform(F.array(value), body)[0]
