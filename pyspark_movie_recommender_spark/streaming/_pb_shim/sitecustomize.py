"""Interpreter-start shim: replay protobuf_compat in Spark workers.

Python auto-imports ``sitecustomize`` at startup when this directory is
on PYTHONPATH (``protobuf_compat.enable_for_session`` puts it on the
session's worker PYTHONPATH). Spark's Python processes — the
transformWithState driver worker and the executor UDF daemons — import
``StateMessage_pb2`` long after launch, so the bundled-runtime sys.path
fix and the lenient gencode/runtime check must already be in place;
there is no driver-side hook that reaches into those processes.

Loads ``protobuf_compat`` by FILE PATH (the engine package is not
necessarily importable inside a worker) under a sentinel module name so
a driver-side ``import pyspark_movie_recommender_spark`` later never
collides. Never raises: a broken shim would take down every Python
worker, protobuf-related or not.
"""

import importlib.util
import os
import sys

_COMPAT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), os.pardir, "protobuf_compat.py"
)

try:
    _spec = importlib.util.spec_from_file_location(
        "_spark_graft_protobuf_compat", os.path.abspath(_COMPAT)
    )
    if _spec is not None and _spec.loader is not None:
        _mod = importlib.util.module_from_spec(_spec)
        sys.modules[_spec.name] = _mod
        _spec.loader.exec_module(_mod)
        _mod.ensure_protobuf()
except Exception:  # pragma: no cover - never break worker startup
    pass

# Chain-load the sitecustomize this shim shadowed, if any. Python
# imports only the FIRST sitecustomize found on sys.path, so a process
# that carries its own (coverage.py subprocess tracking, site/ops
# customization) would silently lose it whenever the shim dir leads
# PYTHONPATH. Replay the next one by file path under a sentinel name —
# its side effects are what matter, and re-binding the live
# ``sitecustomize`` entry mid-execution would be unsound.
try:
    _SHIM_DIR = os.path.dirname(os.path.abspath(__file__))
    for _entry in sys.path:
        _dir = os.path.abspath(_entry) if _entry else os.getcwd()
        if _dir == _SHIM_DIR:
            continue
        _cand = os.path.join(_dir, "sitecustomize.py")
        if not os.path.isfile(_cand):
            continue
        _spec = importlib.util.spec_from_file_location(
            "_spark_graft_chained_sitecustomize", _cand
        )
        if _spec is not None and _spec.loader is not None:
            _nxt = importlib.util.module_from_spec(_spec)
            sys.modules[_spec.name] = _nxt
            _spec.loader.exec_module(_nxt)
        break
except Exception:  # pragma: no cover - never break worker startup
    pass
