"""Guard: one implementation per operator, one crossover test hook.

No module may grow a per-module force hook (``cache._FORCE_DISTRIBUTED``
is the one hook: it sends every crossover to its scale side), and no
public function may let its caller pick an engine — a second engine is
a second implementation to keep bit-identical with the first — or pass
a row-count hint: a size the code can measure is not a caller option.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import finmlkit_spark

ALLOWED_FORCE = {("finmlkit_spark.cache", "_FORCE_DISTRIBUTED")}
ROW_HINTS = {"small_rows", "n_rows", "input_rows"}


def _modules():
    yield finmlkit_spark
    for info in pkgutil.walk_packages(finmlkit_spark.__path__, "finmlkit_spark."):
        yield importlib.import_module(info.name)


def _public_functions(mod):
    for name, obj in vars(mod).items():
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield name, obj
        elif inspect.isclass(obj):
            for mname, meth in vars(obj).items():
                if not mname.startswith("_") and inspect.isfunction(meth):
                    yield f"{name}.{mname}", meth


def test_single_force_hook():
    hooks = {
        (mod.__name__, attr)
        for mod in _modules()
        for attr in vars(mod)
        if attr.startswith("_FORCE_")
    }
    assert hooks == ALLOWED_FORCE


def test_no_engine_parameter():
    offenders = [
        f"{mod.__name__}.{name}"
        for mod in _modules()
        for name, fn in _public_functions(mod)
        if "engine" in inspect.signature(fn).parameters
    ]
    assert offenders == []


def test_no_row_count_hint_parameter():
    offenders = [
        f"{mod.__name__}.{name}({p})"
        for mod in _modules()
        for name, fn in _public_functions(mod)
        for p in inspect.signature(fn).parameters
        if p in ROW_HINTS or p.endswith("_crossover")
    ]
    assert offenders == []


def test_scale_scans_take_no_unused_knob():
    """The single-stream scale scans take no ``by`` (per-group EW is
    ``apply_sequential``'s job) and no ``coarse_span`` (the bucket width
    is ``chunked_window._COARSE_SPAN``), nor do the chunk helpers and
    the trade-scale median; only RSI exposes the global row number."""
    from finmlkit_spark.functions import chunked_window as CW
    from finmlkit_spark.functions import rolling as R
    from finmlkit_spark.functions import sequential as S

    scans = [S.ewma_parallel, S.ewms_parallel, S.ewmst_parallel, S.rsi_parallel,
             S.atr_ema_parallel, R.rolling_median_chunked, CW.with_row_chunks,
             CW.with_global_row_number]
    offenders = [
        f"{fn.__name__}({p})"
        for fn in scans
        for p in inspect.signature(fn).parameters
        if p in {"by", "coarse_span"}
    ]
    assert offenders == []
    assert "rn_col" not in inspect.signature(S.atr_ema_parallel).parameters


def test_exclusive_prefix_takes_no_group():
    """The prefix picks its side through the driver gate; the two-level
    plan's group size is a module constant, not a caller option."""
    from finmlkit_spark.functions.prefix import exclusive_prefix

    assert "group" not in inspect.signature(exclusive_prefix).parameters


#: the pandas kernel sites left outside ``functions/arrow.py``:
#: (module path, top-level function, kind) -> why it stays pandas
PANDAS_SITES = {
    ("sources/trades.py", "read_binance_zip", "mapInPandas"):
        "streams one frame per zip member through pd.read_csv",
    ("operators/similarity.py", "semantic_dup_pairs", "np.stack"):
        "inside the grouped applyInPandas cluster-pair kernel",
    ("operators/similarity.py", "knn_graph", "np.stack"):
        "inside the grouped applyInPandas cluster top-k kernel",
}


def _pandas_sites():
    """Every ``mapInPandas`` call, ``pandas_udf`` reference and
    ``np.stack`` over a pandas ``.values`` / ``.to_numpy()`` in the
    library, keyed like :data:`PANDAS_SITES`."""
    import ast
    import pathlib

    root = pathlib.Path(finmlkit_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                kind = None
                if isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
                    kind = "mapInPandas"
                elif (isinstance(node, ast.Attribute) and node.attr == "pandas_udf") or (
                    isinstance(node, ast.Name) and node.id == "pandas_udf"
                ):
                    kind = "pandas_udf"
                elif (
                    isinstance(node, ast.Call)
                    and ast.unparse(node.func) == "np.stack"
                    and any(s in ast.unparse(node) for s in (".values", ".to_numpy()"))
                ):
                    kind = "np.stack"
                if kind:
                    yield (
                        str(path.relative_to(root)),
                        getattr(top, "name", "<module>"),
                        kind,
                    )


def test_one_arrow_kernel_boundary():
    """Map and column kernels cross Spark through ``functions/arrow.py``;
    the only pandas kernel sites are the allowlisted ones."""
    assert set(_pandas_sites()) == set(PANDAS_SITES)
