"""Spark Python worker bootstrap: one ``sitecustomize`` shim for every
worker interpreter, written by :func:`bootstrap` before the JVM starts.

Spark's Python workers are fresh interpreters launched with the JVM's
environment, so the bootstrap writes a ``sitecustomize.py`` into a
repo-scratch dir (``.scratch/pybootstrap/``) and prepends that dir to
``PYTHONPATH``. Every worker runs the shim at startup. This only
propagates if the JVM gateway starts AFTER the bootstrap ran
(``get_session`` does that); a session whose JVM was already up keeps
plain workers. The shim has two sections:

1. **Frozen Spark archives (always).** Spark puts
   ``<SPARK_HOME>/python/lib/pyspark.zip``, the py4j zip and the
   spark-core jar on every worker's path, so a warm worker holds 17
   ``zipimport.zipimporter``\\ s (the archives plus the package
   directories inside them). pyspark's ``setup_spark_files`` calls
   ``importlib.invalidate_caches()`` once per task, and on Python 3.11
   each of those importers then re-reads its whole archive directory
   (pyspark.zip alone has 1,328 entries): 150-260 ms per task with four
   tasks running. The shim installs a ``sys.path_hooks`` entry that
   serves every path under ``<SPARK_HOME>/python/lib/`` and
   ``<SPARK_HOME>/jars/`` (each prefix as given and after
   ``os.path.realpath`` — workers see the jar by its resolved path) with
   :class:`SparkArchiveImporter`, a ``zipimporter`` whose
   ``invalidate_caches`` does nothing, and drops the importers created
   for those paths before the hook existed. These archives cannot change
   under a running worker. User archives (``addPyFile``,
   ``--py-files``) live outside ``SPARK_HOME`` and keep normal
   invalidation.
2. **Vendored protobuf (only when ``google.protobuf`` is missing).**
   Spark 4's ``transformWithStateInPandas`` Python runner speaks
   protobuf to the JVM, but this container ships pyspark without the
   ``protobuf`` package. The public Google Cloud SDK bundles a complete
   pure-Python runtime under its App Engine platform directory
   (``protobuf 6.32.0`` — probed, never assumed). The bootstrap appends
   it to this process's ``sys.path`` and to ``PYTHONPATH``, and both this
   process and the shim apply a one-minor-lenient gencode/runtime version
   check (pyspark 4.1.2's generated ``StateMessage_pb2`` is gencode
   6.33.0 vs the vendored runtime 6.32.0 — same major, wire format
   identical; the strict ``runtime_version`` guard is relaxed ONLY for
   ``|minor skew| <= 1`` on an equal major, everything else still
   raises). :func:`workers_covered` reports whether workers can import
   protobuf; ``tws_available`` gates on it and on
   :func:`ensure_protobuf` (importable in this process). Without a vendor
   runtime both are False and the legacy ``applyInPandasWithState``
   branch carries the oracle.
"""
from __future__ import annotations

import os
import sys

#: Known locations of a vendored pure-Python protobuf runtime. Only the
#: public Google Cloud SDK layout today; a probe failure is silent.
_VENDOR_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

_SHIM = """\
# Auto-generated by industry_big_data_time_sequence_process_spark.worker_bootstrap
# — runs at Spark Python worker startup (see that module's docs).
import sys
import zipimport

# Spark's own archives cannot change under a running worker: serve them
# with a zipimporter that ignores importlib.invalidate_caches(), which
# pyspark calls once per task.
_SPARK_ARCHIVE_PREFIXES = {prefixes!r}


def _is_spark_archive(path):
    return isinstance(path, str) and path.startswith(_SPARK_ARCHIVE_PREFIXES)


class SparkArchiveImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def _spark_archive_hook(path):
    if not _is_spark_archive(path):
        raise ImportError("not under SPARK_HOME")
    return SparkArchiveImporter(path)


sys.path_hooks.insert(0, _spark_archive_hook)
for _path in [p for p in sys.path_importer_cache if _is_spark_archive(p)]:
    del sys.path_importer_cache[_path]

"""

_SHIM_PROTOBUF = """\
# Vendored pure-Python protobuf runtime, with the gencode/runtime version
# guard relaxed by at most one minor version on an equal major.
_VENDOR = {vendor!r}
if _VENDOR not in sys.path:
    sys.path.append(_VENDOR)
try:
    from google.protobuf import runtime_version as _rv

    _orig = _rv.ValidateProtobufRuntimeVersion

    def _lenient(domain, major, minor, patch, suffix, location):
        try:
            _orig(domain, major, minor, patch, suffix, location)
        except _rv.VersionError:
            if major == _rv.MAJOR and abs(minor - _rv.MINOR) <= 1:
                return
            raise

    _rv.ValidateProtobufRuntimeVersion = _lenient
except Exception:
    pass
"""

_state: dict = {"done": False, "ok": False, "workers": False}


def _native() -> bool:
    try:
        import google.protobuf  # noqa: F401
        return True
    except ImportError:
        return False


def _gateway_started() -> bool:
    """Whether this process already launched a Spark JVM (whose env —
    including PYTHONPATH — is frozen at launch)."""
    try:
        from pyspark import SparkContext
        return SparkContext._gateway is not None
    except Exception:  # pragma: no cover - pyspark always importable here
        return False


def _shim_dir() -> str:
    from .operators.sources_sinks import _scratch
    return _scratch("pybootstrap")


def spark_archive_prefixes() -> tuple[str, ...]:
    """Path prefixes (with trailing separator) of the archives Spark puts
    on every worker's path: ``<SPARK_HOME>/python/lib/`` and
    ``<SPARK_HOME>/jars/``, each as given and resolved."""
    from pyspark.find_spark_home import _find_spark_home
    home = _find_spark_home()
    dirs = [os.path.join(home, "python", "lib"), os.path.join(home, "jars")]
    return tuple(dict.fromkeys(
        os.path.join(p, "") for d in dirs for p in (d, os.path.realpath(d))))


def shim_source(vendor: str | None) -> str:
    """The worker ``sitecustomize.py``: the frozen-archive section always,
    the protobuf section only for a vendored runtime."""
    src = _SHIM.format(prefixes=spark_archive_prefixes())
    if vendor is not None:
        src += _SHIM_PROTOBUF.format(vendor=vendor)
    return src


def _apply_lenient_check() -> None:
    from google.protobuf import runtime_version as rv

    orig = getattr(rv.ValidateProtobufRuntimeVersion, "__wrapped__",
                   rv.ValidateProtobufRuntimeVersion)

    def lenient(domain, major, minor, patch, suffix, location):
        try:
            orig(domain, major, minor, patch, suffix, location)
        except rv.VersionError:
            if major == rv.MAJOR and abs(minor - rv.MINOR) <= 1:
                return
            raise

    lenient.__wrapped__ = orig
    rv.ValidateProtobufRuntimeVersion = lenient


def _vendor_protobuf() -> str | None:
    """Make a vendored protobuf importable in this process; returns its
    dir, or None when no vendor runtime imports."""
    for vendor in _VENDOR_DIRS:
        if not os.path.isdir(os.path.join(vendor, "google", "protobuf")):
            continue
        sys.path.append(vendor)
        if not _native():
            sys.path.remove(vendor)
            continue
        _apply_lenient_check()
        return vendor
    return None


def bootstrap() -> None:
    """Idempotent: vendor protobuf into this process if it is missing,
    write the worker shim and prepend its dir (and the vendor dir) to
    ``PYTHONPATH`` for a JVM launched after this call."""
    if _state["done"]:
        return
    _state["done"] = True
    gateway_was_up = _gateway_started()
    native = _native()
    vendor = None if native else _vendor_protobuf()
    _state["ok"] = native or vendor is not None
    try:
        shim_dir = _shim_dir()
        os.makedirs(shim_dir, exist_ok=True)
        # Write-then-rename: concurrent runs share the dir, and a worker
        # must never start on a half-written shim.
        path = os.path.join(shim_dir, "sitecustomize.py")
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(shim_source(vendor))
        os.replace(tmp, path)
    except OSError:  # pragma: no cover - scratch dir unwritable
        _state["workers"] = native
        return
    parts = [shim_dir] + ([vendor] if vendor else [])
    old = os.environ.get("PYTHONPATH")
    if old:
        parts.append(old)
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    # A native protobuf is on the workers' site-packages already; a
    # vendored one only reaches workers of a JVM launched after this.
    _state["workers"] = native or (vendor is not None and not gateway_was_up)


def ensure_protobuf() -> bool:
    """Whether ``google.protobuf`` is importable in this process (runs
    :func:`bootstrap` first)."""
    bootstrap()
    return _state["ok"]


def workers_covered() -> bool:
    """Whether Spark Python workers will be able to import protobuf —
    True when protobuf is natively installed, or when the bootstrap
    exported PYTHONPATH before any JVM started in this process."""
    bootstrap()
    return _state["workers"]
