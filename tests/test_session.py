"""Session factory hygiene that needs no Spark: the package zip a
multi-process session ships to its executors is removed at exit."""

from __future__ import annotations

import atexit
import pathlib
import tempfile
from types import SimpleNamespace


def test_ship_package_zip_is_removed_at_exit(monkeypatch, tmp_path):
    """_ship_package zips the package for addPyFile; the zip must stay
    while the session lives (executors fetch it from the driver's file
    server) and go when the interpreter exits."""
    from distributed_mapreduce_spark import session

    handlers = []
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(
        atexit, "register", lambda f, *a, **kw: handlers.append((f, a, kw))
    )
    shipped = []
    stub = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))

    session._ship_package(stub)

    assert len(shipped) == 1
    zip_path = pathlib.Path(shipped[0])
    assert zip_path.parent == tmp_path and zip_path.name.startswith("dmr_pkg_")
    assert zip_path.exists(), "the zip must outlive the call: executors fetch it"
    assert handlers, "no exit handler registered for the shipped zip"
    for f, a, kw in handlers:
        f(*a, **kw)
    assert not zip_path.exists(), "the exit handler left the zip behind"
