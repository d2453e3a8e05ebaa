"""Make ``google.protobuf`` available for transformWithState.

Spark 4's ``transformWithStateInPandas`` (SPARK-46815) speaks protobuf
between the JVM and three kinds of Python processes: the driver, the
schema-validation "driver worker" the JVM forks at query start, and the
executor-side UDF workers. All three import
``pyspark.sql.streaming.proto.StateMessage_pb2``, which needs the
``google.protobuf`` runtime — a package this container does not ship.

The container DOES ship a complete pure-Python protobuf runtime (6.32.0,
Apache-2.0) inside the Google Cloud SDK's bundled App Engine platform.
This module makes it importable, with two corrections discovered the
hard way:

1. **Namespace-package false positive.** Spark's worker PYTHONPATH puts
   ``spark-core_*.jar`` on ``sys.path``; the jar carries
   ``google/protobuf/*.proto`` RESOURCE files, so a bare
   ``import google.protobuf`` "succeeds" as an empty namespace package
   ("unknown location") and then ``from google.protobuf import
   descriptor`` explodes inside the TWS driver worker. The probe must
   therefore import a concrete submodule, and a failed probe must purge
   the cached namespace modules before retrying — a regular package
   (one with ``__init__.py``) beats a namespace portion regardless of
   ``sys.path`` order, so appending the candidate dir at the END is
   safe and cannot shadow site-packages.

2. **Gencode/runtime version policy.** PySpark 4.1's generated
   ``StateMessage_pb2`` declares gencode 6.33.0; the bundled runtime is
   6.32.0, and ``runtime_version.ValidateProtobufRuntimeVersion`` hard-
   fails on runtime < gencode even within a major version. The wire
   format and the ``internal.builder`` API the gencode uses are stable
   within a major, so we wrap the validator to downgrade exactly that
   case (same PUBLIC domain, same major) to a pass; any other mismatch
   still raises. The end-to-end proof is the TWS suite itself: the
   stream≡batch equality tests in ``tests/test_streaming.py`` run the
   full protobuf protocol against the JVM state server.

Worker processes can't be monkeypatched from the driver, so the same
logic ships as a ``sitecustomize.py`` shim (``_pb_shim/``) that Python
auto-imports at interpreter start when its directory is on PYTHONPATH;
:func:`enable_for_session` puts that directory on a session's worker
PYTHONPATH.

Everything here is stdlib-only and loadable by file path (the shim
imports it without the package being importable in the worker).
"""

from __future__ import annotations

import os
import sys
import warnings

# Known pure-Python google.protobuf runtimes on this container, probed in
# order. SPARK_GRAFT_PROTOBUF_DIR overrides for other machines (it must
# contain google/protobuf/__init__.py).
_CANDIDATE_DIRS = [
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]

_SHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pb_shim")

# How many minor versions ahead of the runtime a gencode may be before
# the (bounded) lenient validator lets the VersionError stand. 1 covers
# the verified 6.33-gencode / 6.32-runtime pairing.
_LENIENT_MINOR_DELTA = 1


def _probe() -> bool:
    """True iff a REAL protobuf runtime is importable.

    A concrete-submodule import defeats the namespace-package false
    positive (correction 1 in the module docstring).
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _purge_namespace_modules() -> None:
    """Drop cached ``google*`` modules so a retry re-resolves packages.

    After a failed probe, ``sys.modules`` may hold ``google`` /
    ``google.protobuf`` as namespace packages assembled from jar
    resources; their ``__path__`` would never pick up a regular package
    appended to ``sys.path`` later, so the cache must go.

    Only NAMESPACE portions are purged (packages with a ``__path__``
    but no ``__file__``): a real, regularly-packaged ``google.*``
    module already imported by the process (google.auth, google.cloud)
    must keep its identity — deleting it would make previously bound
    references diverge from a re-import (round-6 advice).
    """
    for name in [m for m in sys.modules if m == "google" or m.startswith("google.")]:
        mod = sys.modules[name]
        if mod is None or (
            getattr(mod, "__file__", None) is None and hasattr(mod, "__path__")
        ):
            del sys.modules[name]


def _patch_runtime_version() -> None:
    """Tolerate runtime < gencode within the same PUBLIC major.

    6.32 runtime vs 6.33 gencode (correction 2). No-op when the
    installed protobuf has no runtime_version module (pre-5.x) or is
    already patched; any cross-major or non-PUBLIC mismatch still
    raises exactly as upstream would.

    The leniency is BOUNDED (round-6 advice): only a gencode at most
    ``_LENIENT_MINOR_DELTA`` minor versions ahead of the runtime is
    tolerated — that covers the verified 6.33-gencode/6.32-runtime
    pairing without also waving through e.g. 6.99 gencode, whose
    reliance on newer runtime APIs would otherwise surface later as an
    obscure AttributeError instead of the clear VersionError.
    """
    try:
        from google.protobuf import runtime_version as rv
    except ImportError:
        return
    if getattr(rv.ValidateProtobufRuntimeVersion, "_spark_graft_lenient", False):
        return
    orig = rv.ValidateProtobufRuntimeVersion

    def lenient(domain, major, minor, patch, suffix, location):
        try:
            orig(domain, major, minor, patch, suffix, location)
        except rv.VersionError:
            if (
                domain != rv.Domain.PUBLIC
                or major != rv.MAJOR
                or not (0 <= minor - rv.MINOR <= _LENIENT_MINOR_DELTA)
            ):
                raise
            warnings.warn(
                "protobuf gencode %d.%d.%d is newer than the runtime "
                "%d.%d.%d; proceeding (same major, wire-compatible)"
                % (major, minor, patch, rv.MAJOR, rv.MINOR, rv.PATCH),
                stacklevel=2,
            )

    lenient._spark_graft_lenient = True
    rv.ValidateProtobufRuntimeVersion = lenient


def ensure_protobuf() -> str | None:
    """Make ``google.protobuf`` importable in THIS process.

    Returns None on success, else a one-line reason string (the skip
    reason tests/test_streaming.py reports). Idempotent and cheap when a
    real protobuf is already importable.
    """
    if _probe():
        _patch_runtime_version()
        return None
    candidates = []
    env_dir = os.environ.get("SPARK_GRAFT_PROTOBUF_DIR")
    if env_dir:
        candidates.append(env_dir)
    candidates.extend(_CANDIDATE_DIRS)
    tried = []
    for cand in candidates:
        init = os.path.join(cand, "google", "protobuf", "__init__.py")
        if not os.path.isfile(init):
            tried.append(cand)
            continue
        if cand not in sys.path:
            sys.path.append(cand)
        _purge_namespace_modules()
        if _probe():
            _patch_runtime_version()
            return None
        tried.append(cand)
    return (
        "google.protobuf unavailable: no installed runtime and no usable "
        "bundled runtime (tried %s)" % (tried or ["<none>"])
    )


def enable_for_session(spark) -> str | None:
    """:func:`ensure_protobuf` in this process, plus the shim on the
    SESSION's worker PYTHONPATH — without touching the driver's global
    ``os.environ`` (round-6 advice: the global edit leaked the shim
    sitecustomize into every Python subprocess the driver spawns, Spark
    or not). Python worker env vars come from ``sc.environment`` at
    UDF/runner creation time — mutable after launch — so injecting the
    shim there reaches the TWS driver worker and the executor UDF
    workers even post-hoc (verified end-to-end: a bare
    ``SparkSession.builder`` session runs transformWithState green
    after this call). Returns the gate reason or None."""
    reason = ensure_protobuf()
    if reason is not None:
        return reason
    try:
        env = spark.sparkContext.environment
    except Exception:  # pragma: no cover - session without a live sc
        return None
    cur = env.get("PYTHONPATH", "")
    if _SHIM_DIR not in (cur.split(os.pathsep) if cur else []):
        env["PYTHONPATH"] = _SHIM_DIR + (os.pathsep + cur if cur else "")
    return None
