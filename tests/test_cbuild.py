"""The extension build cache: concurrent first imports on an empty cache
build exactly one artifact, a changed source builds a new one, a package
imported from a zip (``spark-submit --py-files``) builds from its zipped
source, and a missing compiler or an unwritable cache is an ImportError
that says so.

Nothing from ``dup_ocropy_spark`` is imported at module level: importing
the kernels builds the extension, and the spawned children must do that
themselves, on the empty cache this test gives them."""

import inspect
import multiprocessing as mp
import os
import subprocess
import sys
import sysconfig
import zipfile

import pytest

N_PROCS = 4
PAYLOADS = ["<p>first block</p><nav>menu</nav>tail &amp; more",
            "plain one\n\nplain two\f\U0001F600 three", "café „quote“"]
FORCED = [None, [5, 12], [2]]


def _digest(table) -> str:
    import hashlib

    return hashlib.sha256(repr((
        table.row.tolist(), table.start.tolist(), table.end.tolist(),
        table.visible.to_pylist(), table.kind.tolist(), table.link_chars.tolist(),
        table.boiler.tolist(), table.block_id.tolist())).encode()).hexdigest()


def _import_and_segment(cache_home, compile_log, barrier, results):
    """Child: count compiler runs, then import the kernels on ``cache_home``
    together with the other children and segment the fixed payloads."""
    import subprocess

    os.environ["XDG_CACHE_HOME"] = cache_home
    run = subprocess.run

    def counted(*args, **kwargs):
        with open(compile_log, "a") as f:
            f.write(f"{os.getpid()}\n")
        return run(*args, **kwargs)

    subprocess.run = counted
    barrier.wait()
    from dup_ocropy_spark.kernels.segment import segment_batch

    results.put(_digest(segment_batch(PAYLOADS, FORCED)))


def test_concurrent_first_imports_build_one_artifact(tmp_path):
    from dup_ocropy_spark.kernels.cbuild import build_extension
    from dup_ocropy_spark.kernels.segment import segment_batch

    ctx = mp.get_context("spawn")
    barrier, results = ctx.Barrier(N_PROCS), ctx.Queue()
    log = tmp_path / "compiles.log"
    procs = [ctx.Process(target=_import_and_segment,
                         args=(str(tmp_path), str(log), barrier, results))
             for _ in range(N_PROCS)]
    for p in procs:
        p.start()
    digests = [results.get(timeout=240) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    cache = tmp_path / "dup_ocropy_spark"
    artifacts = sorted(f.name for f in cache.iterdir() if not f.name.startswith("."))
    assert len(artifacts) == 1, artifacts  # and no temporary file left behind
    assert len(log.read_text().split()) == 1
    assert set(digests) == {_digest(segment_batch(PAYLOADS, FORCED))}

    # a changed source is a new artifact next to the old one
    source = _segment_source()
    assert build_extension("_segment", source, str(cache)) == str(cache / artifacts[0])
    rebuilt = build_extension("_segment", source + b"/* changed */\n", str(cache))
    assert os.path.basename(rebuilt) not in artifacts
    assert sorted(f.name for f in cache.iterdir() if not f.name.startswith(".")) == \
        sorted([*artifacts, os.path.basename(rebuilt)])


def _segment_source() -> bytes:
    import dup_ocropy_spark.kernels.cbuild as cbuild

    with open(os.path.join(os.path.dirname(cbuild.__file__), "_segment.c"), "rb") as f:
        return f.read()


def test_missing_compiler_is_a_clear_import_error(tmp_path, monkeypatch):
    import dup_ocropy_spark.kernels.cbuild as cbuild

    get = sysconfig.get_config_var
    monkeypatch.setattr(sysconfig, "get_config_var",
                        lambda name: "no-such-cc -O0" if name == "CC" else get(name))
    with pytest.raises(ImportError, match="needs a C compiler.*no-such-cc"):
        cbuild.build_extension("_segment", _segment_source(), str(tmp_path / "cache"))
    assert os.listdir(tmp_path / "cache") == [".lock"]


def test_unwritable_cache_is_a_clear_import_error(tmp_path):
    from dup_ocropy_spark.kernels.cbuild import build_extension

    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    with pytest.raises(ImportError, match="extension cache.*XDG_CACHE_HOME"):
        build_extension("_segment", _segment_source(), str(blocker / "dup_ocropy_spark"))


def test_zipped_package_builds_from_its_zipped_source(tmp_path):
    """The package as ``zip -r dup_ocropy_spark.zip dup_ocropy_spark/``
    leaves it for ``--py-files``: imported from the zip alone, on an empty
    cache, the kernels build and segment like the source tree's."""
    import dup_ocropy_spark
    from dup_ocropy_spark.kernels.segment import segment_batch

    package = os.path.dirname(dup_ocropy_spark.__file__)
    archive = tmp_path / "dup_ocropy_spark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for root, dirs, files in os.walk(package):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                full = os.path.join(root, name)
                z.write(full, os.path.relpath(full, os.path.dirname(package)))
    child = inspect.getsource(_digest) + (
        "import dup_ocropy_spark.kernels.segment as seg\n"
        f"assert seg.__file__.startswith({str(archive)!r}), seg.__file__\n"
        f"print(_digest(seg.segment_batch({PAYLOADS!r}, {FORCED!r})))\n")
    env = {**os.environ, "PYTHONPATH": str(archive),
           "XDG_CACHE_HOME": str(tmp_path / "cache")}
    proc = subprocess.run([sys.executable, "-c", child], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=240)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == _digest(segment_batch(PAYLOADS, FORCED))
    assert len(os.listdir(tmp_path / "cache" / "dup_ocropy_spark")) == 2  # .lock + artifact
