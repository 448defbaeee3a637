"""Third-layer anchor coverage gate (see ``tools/anchor_audit.py``)."""

from __future__ import annotations


def test_full_registry_anchor_coverage():
    """Round-10 milestone, kept as a gate: every registry entry's family
    has a third-layer anchor (pure-Python recompute or family law) in at
    least one anchor file.  A new op landing without one fails here."""
    import importlib.util
    from pathlib import Path

    tool = Path(__file__).resolve().parent.parent / "tools" / "anchor_audit.py"
    spec = importlib.util.spec_from_file_location("anchor_audit", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    amap = mod.anchor_map()
    missing = [n for n, fs in amap.items() if not fs]
    assert not missing, f"unanchored registry rows: {missing}"
