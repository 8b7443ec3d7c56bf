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
import re

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
    """The single-stream scale scans take no ``by`` (per-group EW is a
    grouped kernel, ``arrow.groups``) and no ``coarse_span`` (the bucket width
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
    # the chunk widths of the label and sampling prefixes are module
    # constants: no caller ever set them
    from finmlkit_spark.operators import labels as L
    from finmlkit_spark.operators import sampling as SP

    knobs = {L.concurrency: "chunk_ns", L.time_decay: "chunk_ns", SP.weighted_sample: "chunk"}
    assert [
        f"{fn.__name__}({p})" for fn, p in knobs.items() if p in inspect.signature(fn).parameters
    ] == []


def test_exclusive_prefix_takes_no_group():
    """The prefix picks its side through the driver gate; the two-level
    plan's group size is a module constant, not a caller option."""
    from finmlkit_spark.functions.prefix import exclusive_prefix

    assert "group" not in inspect.signature(exclusive_prefix).parameters


#: a hand-rolled exclusive prefix: a running aggregate over all strictly
#: earlier rows, in the DataFrame API or in SQL
EXCLUSIVE_PREFIX = re.compile(
    r"rowsBetween\(\s*Window\.unboundedPreceding,\s*-1\s*\)|PRECEDING AND 1 PRECEDING"
)

#: (module path, top-level function) -> why it builds its own prefix
PREFIX_SITES = {
    ("operators/labels.py", "span_sweep"):
        "its SQL pivot must equal the numpy driver pivot bit for bit at any "
        "chunk count, which the two-level prefix cannot promise across groups",
}


def test_one_exclusive_prefix():
    """Cross-chunk offsets in the operators and functions come from
    ``functions/prefix.py``; the only other exclusive prefix is the
    allowlisted one."""
    import ast
    import pathlib

    root = pathlib.Path(finmlkit_spark.__file__).parent
    sites = set()
    for sub in ("operators", "functions"):
        for path in sorted((root / sub).rglob("*.py")):
            rel = str(path.relative_to(root))
            if rel == "functions/prefix.py":
                continue
            src = path.read_text()
            for top in ast.parse(src).body:
                if EXCLUSIVE_PREFIX.search(ast.get_source_segment(src, top) or ""):
                    sites.add((rel, getattr(top, "name", "<module>")))
    assert sites == set(PREFIX_SITES)


#: the pandas kernel sites left outside ``functions/arrow.py``:
#: (module path, top-level function, kind) -> why it stays pandas
PANDAS_SITES = {
    ("sources/trades.py", "read_binance_zip", "mapInPandas"):
        "streams one frame per zip member through pd.read_csv",
    ("functions/rolling.py", "rolling_median_chunked", "applyInPandas"):
        "pandas' skip-list rolling median has no NumPy equivalent",
}


def _pandas_sites():
    """Every ``mapInPandas`` / ``applyInPandas`` call, ``pandas_udf``
    reference and ``np.stack`` over a pandas ``.values`` /
    ``.to_numpy()`` in the library, keyed like :data:`PANDAS_SITES`."""
    import ast
    import pathlib

    root = pathlib.Path(finmlkit_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                kind = None
                if isinstance(node, ast.Attribute) and node.attr in ("mapInPandas", "applyInPandas"):
                    kind = node.attr
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
    """Map, grouped and column kernels cross Spark through
    ``functions/arrow.py``; the only pandas kernel sites are the
    allowlisted ones."""
    assert set(_pandas_sites()) == set(PANDAS_SITES)


#: the ``applyInPandasWithState`` sites of ``streaming/bars.py``:
#: (module path, top-level function, kind) -> why the site is there
STATE_SITES = {
    ("streaming/bars.py", "_state_op", "applyInPandasWithState"):
        "the one GroupState adapter: a sequential.py state kernel from the carried state",
    ("streaming/bars.py", "streaming_late_data_metrics", "applyInPandasWithState"):
        "reads rows in arrival order and emits one summary row per batch",
    ("streaming/bars.py", "streaming_funnel", "applyInPandasWithState"):
        "keyed by user, update mode; not a sequential.py recurrence",
}

#: the streaming samplers that must be a sequential.py state kernel
STATE_KERNEL_OPS = (
    "streaming_volume_bars",
    "streaming_imbalance_bars",
    "streaming_run_bars",
    "streaming_cusum_filter",
    "streaming_cusum_bars",
)


def _top_level(rel: str) -> dict:
    """The top-level statements of library module ``rel``, by name."""
    import ast
    import pathlib

    path = pathlib.Path(finmlkit_spark.__file__).parent / rel
    return {getattr(top, "name", "<module>"): top for top in ast.parse(path.read_text()).body}


def _loops(node) -> list[str]:
    import ast

    return [type(n).__name__ for n in ast.walk(node) if isinstance(n, (ast.For, ast.While))]


def test_one_state_kernel_per_recurrence():
    """Each streaming sampler runs its batch state kernel through the
    one GroupState adapter: no other ``applyInPandasWithState`` site in
    ``streaming/bars.py`` and no per-row loop in the samplers; the batch
    ``ewmst`` is ``ewmst_state`` with no loop of its own."""
    import ast

    bars = _top_level("streaming/bars.py")
    sites = {
        ("streaming/bars.py", name, node.attr)
        for name, top in bars.items()
        for node in ast.walk(top)
        if isinstance(node, ast.Attribute) and node.attr == "applyInPandasWithState"
    }
    assert sites == set(STATE_SITES)
    assert {op: _loops(bars[op]) for op in STATE_KERNEL_OPS} == {op: [] for op in STATE_KERNEL_OPS}
    assert _loops(_top_level("functions/sequential.py")["ewmst"]) == []


#: a development-history reference ("round 12", "round-6", "r13") in a
#: comment or docstring of the library, ``bench.py`` or ``tools/``; code
#: literals in double backticks (``r4``, ``r2 = ...``) are names, not
#: history
HISTORY = re.compile(r"(?i:\bround)[- ]?\d+|\br1?\d\b")


def _comment_lines():
    """``(path:line, text)`` of every comment and docstring line of the
    library, ``bench.py`` and ``tools/*.py``."""
    import ast
    import io
    import pathlib
    import tokenize

    lib = pathlib.Path(finmlkit_spark.__file__).parent
    repo = lib.parent
    paths = [*lib.rglob("*.py"), repo / "bench.py", *(repo / "tools").glob("*.py")]
    for path in sorted(paths):
        src = path.read_text()
        rel = path.relative_to(repo)
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type == tokenize.COMMENT:
                yield f"{rel}:{tok.start[0]}", tok.string
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                doc = ast.get_docstring(node, clean=False)
                start = node.body[0].lineno if doc else 0
                for i, line in enumerate((doc or "").splitlines()):
                    yield f"{rel}:{start + i}", line


def test_no_round_history_in_comments():
    """Comments and docstrings state invariants and measurements, not
    the development round that produced them."""
    offenders = [
        f"{where}: {text.strip()}"
        for where, text in _comment_lines()
        if HISTORY.search(re.sub(r"``.*?``", "", text))
    ]
    assert offenders == []


def test_one_span_weight_implementation():
    """Uniqueness and attribution read ``span_sweep`` only: the
    range-join forms are gone and ``operators/labels.py`` calls no
    ``range_join``."""
    import ast

    from finmlkit_spark.operators import labels as L

    assert not hasattr(L, "average_uniqueness")
    assert not hasattr(L, "return_attribution")
    calls = [
        node
        for top in _top_level("operators/labels.py").values()
        for node in ast.walk(top)
        if isinstance(node, ast.Call) and "range_join" in ast.unparse(node.func)
    ]
    assert calls == []
