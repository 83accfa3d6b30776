"""CI variants of the constrained-heap oracle gate.

The 4 GiB protocol (tools/constrained_gate.py) caught a real per-task
memory defect in each of its first three uses — all in code that was
green on a full heap at every gated SF. Two variants run on every
pytest run so the protocol can never silently lapse:

- ``sf0.01-costliest``: the default costliest set at sf0.01;
- ``sf0.001-full``: EVERY registry entry against its DuckDB oracle at
  sf0.001. This is the correctness guarantee for the
  ``__spark_entry__`` contract: an entry whose definition changed is
  proven here before it lands, whatever order
  ``__spark_entry__.queries()`` lists it in.

Per-round maintenance runs the sf0.1 (and, when warranted, sf1)
variants by hand.

Runs in a SUBPROCESS by design: the heap cap must be set before the
JVM launches, so it cannot share the session-scoped fixture.

Marked ``gate`` (round-14 ADVICE): each variant forks a full Spark JVM
and oracle-compares registry queries, so targeted unit runs can
deselect them with ``-m 'not gate'``; plain ``pytest tests/`` (CI, the
driver) still runs everything.
"""

from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.gate
@pytest.mark.parametrize(
    "sf, full",
    [("0.01", False), ("0.001", True)],
    ids=["sf0.01-costliest", "sf0.001-full"],
)
def test_constrained_gate(sf, full):
    import sys

    sys.path.insert(0, str(REPO))
    from tools.constrained_gate import run_gate

    assert run_gate(None, sf=sf, mem="4g", full=full) == 0
