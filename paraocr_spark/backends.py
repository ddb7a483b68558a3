"""Pluggable extractor backends — the engine's main extension point.

Spark-first analog of the reference's dotted-path OCR-backend plugin system
(/root/reference/src/paraocr/cli.py:101-123 preflight import,
gpu_worker.py:20-43 per-worker instantiation, contract
ocr_backends/base.py:6-10): a backend is a class implementing
``extract_batch(batch) -> mapping`` over one Arrow batch's columns,
selected by registry name or dotted ``module.Class`` path via
``PipelineConfig(backend=...)`` / ``--backend``.

Execution model mirrors the reference's one-engine-per-worker-process
(gpu_worker.py "One engine instance per worker process"): the dotted path —
a plain string, cheap to pickle — travels in the kernel closure, and each
Python worker resolves + instantiates it ONCE (module-level cache), so a
backend can hold heavyweight state (a model, a parser pool) without
re-initializing per batch. Swapping backends changes ``config_fp``, which
invalidates resume checkpoints exactly like the reference's cache_version
bump (parallel.py:95-96).
"""

from __future__ import annotations

import importlib
from abc import ABC, abstractmethod
from collections.abc import Mapping

#: input columns every backend receives (the kernel adds shard_id/n_shards)
BACKEND_INPUT_COLS = ("url", "html", "text", "lang")
#: output columns every backend must return, row-aligned with its input
BACKEND_OUTPUT_COLS = ("extracted_text", "spans", "method", "error")


class ExtractorBackend(ABC):
    """Contract: one Arrow batch's columns in, aligned extraction out.

    ``batch`` maps each column name to a row-aligned sequence and carries
    at least BACKEND_INPUT_COLS (html is bytes|None, text is str|None).
    The kernel passes Python lists (operators/extract._extract_batch); a
    pandas DataFrame, also a mapping of columns, works the same. Return a
    mapping with BACKEND_OUTPUT_COLS (a dict of lists, or a DataFrame),
    same length and order: ``spans`` is a list of (start, end) tuples per
    row, ``method`` a short route label, ``error`` None or an in-band
    message — never raise for a single bad document
    (easyocr_backend.py:260-263 semantics).
    """

    @abstractmethod
    def extract_batch(self, batch: Mapping) -> Mapping: ...


_REGISTRY: dict[str, str] = {
    # short name -> dotted path (kept as strings so resolution is lazy and
    # always happens where the batch runs)
    "default": "paraocr_spark.core.routes.RoutedExtractorBackend",
    # C-accelerated HTML parse; needs the lxml package (import-guarded:
    # preflight fails with a clear message where the wheel is absent)
    "lxml": "paraocr_spark.core.routes.LxmlRoutedExtractorBackend",
}

_INSTANCES: dict[tuple, ExtractorBackend] = {}


def resolve_backend_class(spec: str) -> type:
    """Dotted-path (or registry-name) -> class; raises ImportError with a
    clear message — used both for driver-side preflight (fail fast before
    any executor work, cli.py:101-123 analog) and in-worker resolution."""
    dotted = _REGISTRY.get(spec, spec)
    mod_path, _, attr = dotted.rpartition(".")
    if not mod_path or not attr:
        raise ImportError(
            f"backend must be a registry name {sorted(_REGISTRY)} or "
            f"'module.Class', got: {spec!r}"
        )
    mod = importlib.import_module(mod_path)
    try:
        cls = getattr(mod, attr)
    except AttributeError as e:
        raise ImportError(f"backend class not found: {dotted}") from e
    return cls


def get_backend(spec: str, kwargs: dict | None = None) -> ExtractorBackend:
    """Per-process singleton per (spec, kwargs) — one instance per Python
    worker, like the reference's per-process engine (gpu_worker.py:20-28).

    The cache key serializes kwargs as canonical JSON: --backend-kwargs is
    parsed JSON, so values may be lists/dicts (unhashable as tuples)."""
    import json

    key = (spec, json.dumps(kwargs or {}, sort_keys=True))
    inst = _INSTANCES.get(key)
    if inst is None:
        inst = resolve_backend_class(spec)(**(kwargs or {}))
        _INSTANCES[key] = inst
    return inst


def preflight_backend(spec: str, kwargs: dict | None = None) -> None:
    """Import + instantiate on the DRIVER so a typo'd dotted path fails
    with a clear message instead of crashing inside every task."""
    get_backend(spec, kwargs)
