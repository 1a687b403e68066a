"""Spark-free check that every SemlinkConfig field is read somewhere."""
import dataclasses
import pathlib
import re

from semlink.config import SemlinkConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "semlink"


def test_every_config_field_is_read():
    src = "\n".join(p.read_text() for p in PKG.rglob("*.py")
                    if p.name != "config.py" or p.parent != PKG)
    unread = [f.name for f in dataclasses.fields(SemlinkConfig)
              if not re.search(rf"\.{f.name}\b", src)]
    assert unread == []
