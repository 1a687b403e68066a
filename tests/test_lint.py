"""Spark-free source checks that keep the engine's plan-shaping rules:
``ops.cut`` is the only lineage cut, no job probes a table's
emptiness (a cut already counted its rows), and the link layer runs no
driver collect (its only actions are its cuts)."""
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "semlink"


def _sources():
    return {p.relative_to(PKG.parent).as_posix(): p.read_text()
            for p in PKG.rglob("*.py")}


def test_local_checkpoint_only_in_ops():
    hits = [name for name, src in _sources().items()
            if ".localCheckpoint(" in src]
    assert hits == ["semlink/ops.py"]


def test_no_emptiness_probe_jobs():
    hits = [name for name, src in _sources().items()
            if "limit(1).count()" in src]
    assert hits == []


def test_no_collect_in_link_layer():
    src = _sources()
    hits = [name for name in ("semlink/linking.py", "semlink/ngrams.py")
            if ".collect(" in src[name]]
    assert hits == []
