"""The operators read fixed column names (each module docstring states its
contract); a column-name parameter is added only when two non-test callers
need different names. This guard scans the public functions of every module
in pipeline/, streaming/ and jobs/ (pipeline.__all__ omits sessions, so the
modules are walked, not the package exports)."""

import importlib
import inspect
import pkgutil

# the only functions whose callers pass more than one set of column names:
# the IVF operators hand the quantizer helpers the normed corpus (nvec,
# bucket), perfbench hands them the raw tables (embedding, qvec, probe); the
# streaming dedup key and order are the caller's choice by design
ALLOWED = {
    "pipeline.similarity.with_hyperplane_bucket": {"vec_col", "out_col"},
    "pipeline.similarity.hyperplane_probe_buckets": {"vec_col", "out_col"},
    "pipeline.similarity.with_kmeans_bucket": {"vec_col", "out_col"},
    "pipeline.similarity.probe_centroids": {"vec_col", "out_col"},
    "streaming.dedup.first_seen_dedup_stream": {"key_col", "order_cols"},
}

# former column-name parameters whose names do not end in _col
_OTHER_NAMES = {"key_a", "key_b", "order_tiebreak"}


def _public_functions():
    for pkg in ("pipeline", "streaming", "jobs"):
        package = importlib.import_module(f"ukeeper_readability_spark.{pkg}")
        for info in pkgutil.iter_modules(package.__path__):
            mod = importlib.import_module(f"{package.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ == mod.__name__ and not name.startswith("_"):
                    yield f"{pkg}.{info.name}.{name}", fn


def _column_params(fn) -> set:
    return {
        p for p in inspect.signature(fn).parameters
        if p.endswith(("_col", "_cols")) or p in _OTHER_NAMES
    }


def test_operators_take_no_column_name_parameters():
    found = {name: _column_params(fn) for name, fn in _public_functions()}
    assert {n: p for n, p in found.items() if p and n not in ALLOWED} == {}
    # the allowed ones keep exactly their parameters (and still exist)
    assert {n: found.get(n) for n in ALLOWED} == ALLOWED
