"""protobuf_compat: the layer that un-gates transformWithState.

The TWS protocol needs ``google.protobuf`` in the driver, the JVM's
schema-validation driver worker, and the executor UDF workers. These
tests pin the three mechanisms that make that work on a container
without an installed protobuf:

1. driver-side ``ensure_protobuf`` (bundled-runtime discovery + the
   namespace-package false-positive defense),
2. the lenient gencode/runtime validator (same-PUBLIC-major only),
3. the ``_pb_shim/sitecustomize.py`` that replays the fix in worker
   processes via PYTHONPATH.

The end-to-end proof lives in tests/test_streaming.py (the TWS
stream≡batch equalities); these are the unit contracts.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from pyspark_movie_recommender_spark.streaming import protobuf_compat as pc

SHIM_DIR = os.path.join(os.path.dirname(pc.__file__), "_pb_shim")
COMPAT_PATH = pc.__file__


def test_ensure_protobuf_succeeds_on_this_container():
    assert pc.ensure_protobuf() is None
    from google.protobuf import descriptor  # noqa: F401
    import google.protobuf as gp

    # a REAL runtime, not a namespace shell
    assert getattr(gp, "__version__", None)


def test_lenient_validator_scopes_to_same_public_major():
    assert pc.ensure_protobuf() is None
    from google.protobuf import runtime_version as rv

    assert getattr(rv.ValidateProtobufRuntimeVersion, "_spark_graft_lenient", False)
    # newer gencode, same major: tolerated (this is the 6.33-vs-6.32 case)
    with pytest.warns(UserWarning, match="newer than the runtime"):
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR + 1, 0, "", "unit-test"
        )
    # cross-major gencode: still a hard error, exactly as upstream
    with pytest.raises(rv.VersionError):
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC, rv.MAJOR + 1, 0, 0, "", "unit-test"
        )
    # same major but far ahead of the runtime: the leniency is BOUNDED
    # (round-6 advice) — 6.99-style gencode must keep the clear
    # VersionError instead of failing later with an AttributeError
    with pytest.raises(rv.VersionError):
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC,
            rv.MAJOR,
            rv.MINOR + pc._LENIENT_MINOR_DELTA + 1,
            0,
            "",
            "unit-test",
        )


def test_purge_spares_real_google_modules():
    """_purge_namespace_modules drops only NAMESPACE portions: a real,
    file-backed google.* module (google.auth, google.cloud) must keep
    its sys.modules identity so previously bound references don't
    diverge from a re-import (round-6 advice)."""
    import types

    real = types.ModuleType("google.fake_real_portion")
    real.__file__ = "/nonexistent/google/fake_real_portion/__init__.py"
    ns = types.ModuleType("google.fake_ns_portion")
    ns.__path__ = ["/nonexistent/ns"]  # __path__ but no __file__
    sys.modules["google.fake_real_portion"] = real
    sys.modules["google.fake_ns_portion"] = ns
    try:
        pc._purge_namespace_modules()
        assert sys.modules.get("google.fake_real_portion") is real
        assert "google.fake_ns_portion" not in sys.modules
    finally:
        sys.modules.pop("google.fake_real_portion", None)
        sys.modules.pop("google.fake_ns_portion", None)
    # protobuf keeps working afterwards
    assert pc.ensure_protobuf() is None


def test_sitecustomize_shim_chain_loads_shadowed_sitecustomize(tmp_path):
    """The shim must not swallow a pre-existing sitecustomize (round-6
    advice: coverage.py subprocess tracking and site/ops customization
    ride on it). With the shim dir FIRST on PYTHONPATH and another dir
    carrying its own sitecustomize.py, a fresh interpreter must run
    BOTH — protobuf via the shim, the marker via the chained module."""
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text(
        "import sys\nsys.stderr.write('CHAINED_MARKER\\n')\n"
    )
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "from google.protobuf import descriptor\nprint('SHIM_OK')",
        ],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": SHIM_DIR + os.pathsep + str(other)},
    )
    if proc.returncode != 0 and pc.ensure_protobuf() is not None:
        pytest.skip("no protobuf runtime available on this machine at all")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "SHIM_OK" in proc.stdout
    assert "CHAINED_MARKER" in proc.stderr


def test_get_spark_scopes_shim_to_session_env(spark):
    """get_spark wires the worker shim through sc.environment (scoped;
    round-6 advice), NOT through the driver's global os.environ — the
    global edit leaked the shim sitecustomize into every Python
    subprocess the driver spawns."""
    if pc.ensure_protobuf() is not None:
        pytest.skip("no protobuf runtime available on this machine at all")
    env = spark.sparkContext.environment
    assert pc._SHIM_DIR in (env.get("PYTHONPATH") or "").split(os.pathsep)


def test_namespace_false_positive_defense(tmp_path):
    """Reproduce the spark-core-jar failure: a sys.path entry carrying
    ``google/protobuf/`` WITHOUT ``__init__.py`` makes the bare import
    'succeed' as an empty namespace package. ensure_protobuf must see
    through that and still wire up a real runtime in a fresh process."""
    decoy = tmp_path / "decoy" / "google" / "protobuf"
    decoy.mkdir(parents=True)
    (decoy / "descriptor.proto").write_text("// resource file, not code\n")
    script = textwrap.dedent(
        """
        import importlib.util, sys
        import google.protobuf  # namespace shell from the decoy: imports fine
        assert not hasattr(google.protobuf, "__version__")
        spec = importlib.util.spec_from_file_location("pc", sys.argv[1])
        pc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(pc)
        assert pc.ensure_protobuf() is None, "compat must recover from the decoy"
        from google.protobuf import descriptor  # noqa: F401
        import google.protobuf as gp
        print("RECOVERED", gp.__version__)
        """
    )
    env = {**os.environ, "PYTHONPATH": str(tmp_path / "decoy")}
    proc = subprocess.run(
        [sys.executable, "-c", script, COMPAT_PATH],
        capture_output=True,
        text=True,
        env=env,
    )
    if "no usable bundled runtime" in proc.stdout + proc.stderr:
        pytest.skip("no protobuf runtime available on this machine at all")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RECOVERED" in proc.stdout


def test_sitecustomize_shim_fixes_fresh_interpreters():
    """With the shim dir on PYTHONPATH — exactly what enable_for_session
    arranges for Spark's worker processes — a fresh interpreter can
    import the protobuf submodules TWS needs with no explicit setup."""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "from google.protobuf import descriptor, symbol_database\n"
            "from google.protobuf.internal import builder\n"
            "print('SHIM_OK')",
        ],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": SHIM_DIR},
    )
    if proc.returncode != 0 and pc.ensure_protobuf() is not None:
        pytest.skip("no protobuf runtime available on this machine at all")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "SHIM_OK" in proc.stdout


def test_enable_for_session_reaches_running_context(spark, monkeypatch):
    """A session whose JVM launched WITHOUT the shim on PYTHONPATH (a
    foreign builder, not get_spark) still gets worker coverage:
    ``sc.environment`` feeds Python worker env vars at runner-creation
    time, so post-hoc injection there reaches the TWS driver worker and
    executor workers (verified end-to-end on a bare builder session;
    this pins the injection itself)."""
    env = spark.sparkContext.environment
    prior = env.get("PYTHONPATH")
    try:
        env.pop("PYTHONPATH", None)
        assert pc.enable_for_session(spark) is None
        assert env["PYTHONPATH"].split(os.pathsep)[0] == pc._SHIM_DIR
        # idempotent
        assert pc.enable_for_session(spark) is None
        assert env["PYTHONPATH"].split(os.pathsep).count(pc._SHIM_DIR) == 1
    finally:
        if prior is None:
            env.pop("PYTHONPATH", None)
            pc.enable_for_session(spark)  # restore the suite's wiring
        else:
            env["PYTHONPATH"] = prior


def test_gate_reason_is_accurate_when_no_runtime(tmp_path, monkeypatch):
    """When discovery genuinely finds nothing, the gate reason must say
    so (this string is the skip reason tests/test_streaming.py reports)."""
    monkeypatch.setattr(pc, "_CANDIDATE_DIRS", [str(tmp_path / "nowhere")])
    monkeypatch.delenv("SPARK_GRAFT_PROTOBUF_DIR", raising=False)
    monkeypatch.setattr(pc, "_probe", lambda: False)
    reason = pc.ensure_protobuf()
    assert reason is not None and "google.protobuf unavailable" in reason
