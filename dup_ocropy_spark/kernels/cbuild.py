"""Build-on-first-import for the package's C extension modules.

``load_extension(name)`` returns the module compiled from
``kernels/<name>.c``. The shared object lives in a per-user cache
(``$XDG_CACHE_HOME/dup_ocropy_spark``, by default
``~/.cache/dup_ocropy_spark``), named by a hash of the source and the
compile flags plus the interpreter's extension suffix, so each source
version compiles once per machine and a stale build is never loaded.
Spark starts several Python workers at once: the first to miss the
cache compiles under an exclusive file lock and publishes the artifact
with one atomic ``os.replace``; the others wait on the lock and load it.

The source is read through the package's loader, not from a path, so a
package shipped as a zip (``spark-submit --py-files``) builds too: the
bytes are written to a scratch directory inside the cache and compiled
from there. Every failure to build (no compiler, a compile error, a
cache directory that cannot be written) is an ``ImportError`` that
says what went wrong.

A cached load is a source hash and a ``dlopen``; only a build imports
the compiler machinery (``sysconfig``, ``subprocess``), never
``setuptools``. The compiler is ``sysconfig``'s ``CC`` with the
interpreter's own headers.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import pkgutil
from importlib.machinery import EXTENSION_SUFFIXES
from types import ModuleType

_FLAGS = ("-O2", "-shared", "-fPIC")


def build_extension(name: str, source: bytes, cache: str) -> str:
    """Path of the shared object for module ``name`` built from the C
    code ``source`` in the directory ``cache``, compiling it if no build
    of this exact source is there yet."""
    key = hashlib.sha1(source + " ".join(_FLAGS).encode()).hexdigest()[:16]
    path = os.path.join(cache, f"{name}-{key}{EXTENSION_SUFFIXES[0]}")
    if not os.path.exists(path):
        try:
            _compile(name, source, path)
        except OSError as e:
            raise ImportError(
                f"cannot build {name} in the extension cache {cache!r} ({e}); "
                f"point XDG_CACHE_HOME at a writable directory") from e
    return path


def _compile(name: str, source: bytes, path: str) -> None:
    import fcntl
    import shlex
    import shutil
    import subprocess
    import sysconfig
    import tempfile

    cache = os.path.dirname(path)
    os.makedirs(cache, exist_ok=True)
    with open(os.path.join(cache, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
        if os.path.exists(path):          # built while this process waited
            return
        cc = shlex.split(sysconfig.get_config_var("CC") or "cc")
        if shutil.which(cc[0]) is None:
            raise ImportError(
                f"building {name}.c needs a C compiler, and "
                f"sysconfig's CC ({cc[0]!r}) is not on PATH")
        paths = sysconfig.get_paths()
        includes = dict.fromkeys((paths["include"], paths["platinclude"]))
        scratch = tempfile.mkdtemp(dir=cache, prefix=".build-")
        try:
            c_file, so_file = (os.path.join(scratch, name + ext)
                               for ext in (".c", EXTENSION_SUFFIXES[0]))
            with open(c_file, "wb") as f:
                f.write(source)
            proc = subprocess.run(
                [*cc, *_FLAGS, *(f"-I{d}" for d in includes), c_file, "-o", so_file],
                capture_output=True, text=True)
            if proc.returncode != 0:
                raise ImportError(f"compiling {name}.c failed:\n{proc.stderr}")
            os.replace(so_file, path)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


def load_extension(name: str) -> ModuleType:
    """The extension module built from ``kernels/<name>.c``."""
    try:
        source = pkgutil.get_data(__package__, f"{name}.c")
    except OSError as e:
        raise ImportError(f"cannot read the source of {name}: {e}") from e
    if source is None:
        raise ImportError(f"the loader of {__package__} cannot read {name}.c")
    # not under TMPDIR, which a benchmark or scheduler may point somewhere
    # new on every run
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                         or os.path.join(os.path.expanduser("~"), ".cache"), "dup_ocropy_spark")
    spec = importlib.util.spec_from_file_location(
        f"{__package__}.{name}", build_extension(name, source, cache))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module
