"""Source pins for the committed measurement tools' output contracts.

Source assertions, not subprocess runs: the tools' full runs cost
minutes and materialize multi-GB tiers, and the contract here is that
the code recording each section stays wired.
"""

from __future__ import annotations

import os

_TOOLS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")


def _src(name: str) -> str:
    return open(os.path.join(_TOOLS, name)).read()


def test_stream_anchor_classifies_sections():
    src = _src("stream_anchor.py")
    # the incremental registry drain must record per-micro-batch
    # trigger durations from the progress log
    assert "registry_incremental" in src
    assert "triggerExecution" in src


def test_knob_gate_covers_every_knob_entry():
    """The knob gate's specs must cover the distributed trainer plus
    every catalog entry that exposes an arms= knob — a new knob added
    without a witness fails here, not in a judge review."""
    import sys

    sys.path.insert(0, _TOOLS)
    try:
        import knob_gate
    finally:
        sys.path.remove(_TOOLS)
    covered = set(knob_gate.STACKED) | set(knob_gate.FAMILIES)
    from real_time_video_streaming_analytics_lakehouse_spark.plans import (
        events_views,
        llm_ops,
    )

    with_arms = set()
    for mod in (llm_ops, events_views):
        for name in dir(mod):
            fn = getattr(mod, name)
            if callable(fn) and not name.startswith("_"):
                import inspect

                try:
                    params = inspect.signature(fn).parameters
                except (TypeError, ValueError):
                    continue
                if "arms" in params:
                    with_arms.add(name)
    assert with_arms <= covered, (
        f"arms= entries without a knob-gate witness: "
        f"{sorted(with_arms - covered)}"
    )
    src = _src("knob_gate.py")
    assert 'trainer="distributed"' in src
