"""Worker-zip bytecode augmentation (OPTIMIZATION_r11, guide §4):
spawned Python processes import pyspark from $SPARK_HOME's zip, where
zipimport cannot use __pycache__ — so session.py adds .pyc members to
the zip once per interpreter. These tests pin the helper's contract
on a toy zip: bytecode is added, preferred by zipimport, idempotent,
and stale-magic bytecode is regenerated."""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import zipfile

from mc_ns_data_pipeline_spark import session as S
from mc_ns_data_pipeline_spark.session import _augment_zip_with_pyc


def _make_zip(path, extra=()):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("toypkg/__init__.py", "FLAVOR = 'source'\n")
        z.writestr("toypkg/mod.py", "def f():\n    return 41 + 1\n")
        z.writestr("toypkg/data.txt", "not python\n")
        for name, data in extra:
            z.writestr(name, data)
    return str(path)


def test_augment_adds_preferred_bytecode(tmp_path):
    zp = _make_zip(tmp_path / "t.zip")
    _augment_zip_with_pyc(zp)
    with zipfile.ZipFile(zp) as z:
        names = set(z.namelist())
        assert {"toypkg/__init__.pyc", "toypkg/mod.pyc",
                "toypkg/data.txt"} <= names
        assert z.read("toypkg/__init__.pyc")[:4] == \
            importlib.util.MAGIC_NUMBER
    sys.path.insert(0, zp)
    try:
        import toypkg
        import toypkg.mod
        assert toypkg.mod.f() == 42
        # zipimport must have picked the bytecode member
        assert toypkg.__spec__.origin.endswith("__init__.pyc")
    finally:
        sys.path.remove(zp)
        for m in ("toypkg", "toypkg.mod"):
            sys.modules.pop(m, None)


def _members(zp):
    with zipfile.ZipFile(zp) as z:
        return {n: z.read(n) for n in z.namelist()}


def test_augment_is_idempotent(tmp_path):
    zp = _make_zip(tmp_path / "t.zip")
    _augment_zip_with_pyc(zp)
    before = _members(zp)
    _augment_zip_with_pyc(zp)  # re-run regenerates the same members
    assert _members(zp) == before


def test_augment_replaces_stale_magic(tmp_path):
    stale = b"\x00\x00\x0d\x0a" + b"\x00" * 20
    zp = _make_zip(tmp_path / "t.zip",
                   extra=[("toypkg/__init__.pyc", stale)])
    _augment_zip_with_pyc(zp)
    with zipfile.ZipFile(zp) as z:
        assert z.read("toypkg/__init__.pyc")[:4] == \
            importlib.util.MAGIC_NUMBER
        # exactly one .pyc per .py, no stale duplicates
        names = [n for n in z.namelist() if n.endswith(".pyc")]
        assert sorted(names) == ["toypkg/__init__.pyc",
                                 "toypkg/mod.pyc"]


def _cache_mode(tmp_path, monkeypatch):
    """A fake $SPARK_HOME with one toy zip, bytecode cache enabled:
    (pristine zip, cache dir)."""
    lib = tmp_path / "sparkhome" / "python" / "lib"
    os.makedirs(lib)
    zp = _make_zip(lib / "pyspark.zip")
    cache = str(tmp_path / "cache")
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "sparkhome"))
    monkeypatch.setenv("SPARK_GRAFT_PYC_CACHE", cache)
    monkeypatch.delenv("SPARK_GRAFT_NO_ZIP_PYC", raising=False)
    monkeypatch.setattr(S, "_WORKER_PYC_DONE", False)
    return zp, cache


def _spawn(pythonpath, code="import toypkg; print(toypkg.__spec__.origin)"):
    """stdout of a fresh interpreter run with ``pythonpath``."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    return subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, env=env,
                          check=True).stdout


def test_cache_mode_leaves_spark_home_untouched(tmp_path, monkeypatch):
    """Default (r12): augmented COPIES land in the cache dir; the
    install's zips are byte-identical afterwards (VERDICT r11 #9)."""
    zp, cache = _cache_mode(tmp_path, monkeypatch)
    before = open(zp, "rb").read()
    S.ensure_worker_bytecode()
    assert open(zp, "rb").read() == before  # install NOT mutated
    assert os.path.exists(os.path.join(cache, "pyspark.zip"))
    assert os.path.exists(os.path.join(cache, "sitecustomize.py"))
    man = json.load(open(os.path.join(cache, "manifest.json")))
    assert man["zips"]["pyspark.zip"]["source"] == zp
    with zipfile.ZipFile(os.path.join(cache, "pyspark.zip")) as z:
        assert z.read("toypkg/__init__.pyc")[:4] == \
            importlib.util.MAGIC_NUMBER
    # cache dir exported for spawned workers
    assert cache in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_cache_sitecustomize_shadows_pristine_zip(tmp_path,
                                                  monkeypatch):
    """A spawned process with the worker-shaped PYTHONPATH (pristine
    zip first, cache dir after — PythonWorkerFactory's ordering) must
    import from the CACHED bytecode zip via sitecustomize."""
    zp, cache = _cache_mode(tmp_path, monkeypatch)
    S.ensure_worker_bytecode()
    origin = _spawn([zp, cache]).strip()
    assert origin.startswith(cache), origin
    assert origin.endswith("__init__.pyc")
    # stale cache (source zip rewritten): sitecustomize declines and
    # the pristine source serves the import
    _make_zip(zp)  # bumps mtime/size
    assert _spawn([zp, cache]).strip().startswith(zp)


def test_cache_sitecustomize_chains_shadowed_sitecustomize(tmp_path,
                                                           monkeypatch):
    """A site's own sitecustomize later on PYTHONPATH still runs: the
    cache one chain-loads it after shadowing the pristine zip."""
    zp, cache = _cache_mode(tmp_path, monkeypatch)
    other = tmp_path / "site"
    other.mkdir()
    (other / "sitecustomize.py").write_text(
        "import sys\nsys.site_marker = 'other-site'\n")
    S.ensure_worker_bytecode()
    with open(os.path.join(cache, "sitecustomize.py"), "w") as fh:
        fh.write("# an older body\n")  # must be refreshed
    monkeypatch.setattr(S, "_WORKER_PYC_DONE", False)
    S.ensure_worker_bytecode()
    marker, origin = _spawn(
        [zp, cache, str(other)],
        "import sys, toypkg; print(sys.site_marker); "
        "print(toypkg.__spec__.origin)").split()
    assert marker == "other-site"
    assert origin.startswith(cache) and origin.endswith("__init__.pyc")
