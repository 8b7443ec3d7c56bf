"""The fluent feature-definition API (SURVEY.md §2.8) — the reference's
"query language" (``feature/base.py``, ``feature/kit.py``,
``feature/utils.py``) re-expressed as a thin declarative layer that
compiles to Column expressions.

Key difference from the reference: there is no execution engine here.
A ``FeatureKit.build`` emits ONE ``select`` with named Column
expressions — Catalyst does CSE, dependency ordering, column pruning and
codegen (the reference's four layers of memoization and Kahn toposort
are what Catalyst's plan DAG gives for free). An explicit mini-DAG is
still exposed (``FeatureKit.graph``) for UX parity, and JSON
round-tripping keeps pipeline configs portable
(``transform_to_config``/``from_config`` ``feature/utils.py:132-303``).

Sequential transforms (EWMA family, …) are flagged ``sequential`` and
run as grouped-kernel stages after the native select.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import arrow

_REGISTRY: dict[str, type] = {}


def register_transform(cls):
    _REGISTRY[cls.__name__] = cls
    return cls


class BuildContext:
    """Ordering/partitioning context handed to transforms at build time."""

    def __init__(self, order_col: str = "bar_close_ns", part_cols: list[str] | None = None):
        self.order_col = order_col
        self.part_cols = part_cols or []

    @property
    def window(self):
        w = (
            Window.partitionBy(*self.part_cols)
            if self.part_cols
            else Window.partitionBy(F.lit(1))
        )
        return w.orderBy(self.order_col)


class Transform:
    """A named column-valued computation with declared dependencies
    (requires/produces contract, reference ``feature/base.py:85-93``)."""

    sequential = False

    def __init__(self, name: str, requires: list[str]):
        self.name = name
        self.requires = list(requires)

    # -- plan emission ------------------------------------------------------
    def expr(self, ctx: BuildContext) -> Column:
        raise NotImplementedError

    def validate(self, df: DataFrame) -> None:
        missing = [c for c in self.requires if c not in df.columns]
        if missing:
            raise ValueError(f"{self.name}: missing required columns {missing}")

    def __call__(self, df: DataFrame, ctx: BuildContext | None = None) -> DataFrame:
        ctx = ctx or BuildContext()
        self.validate(df)
        return df.withColumn(self.name, self.expr(ctx))

    # -- operator overloading (reference kit.py:271-321) --------------------
    def __add__(self, other):
        return BinOp("+", self, other)

    def __sub__(self, other):
        return BinOp("-", self, other)

    def __mul__(self, other):
        return BinOp("*", self, other)

    def __truediv__(self, other):
        return BinOp("/", self, other)

    def abs(self):
        return UnaryOp("abs", self)

    def log(self):
        return UnaryOp("log", self)

    def log1p(self):
        return UnaryOp("log1p", self)

    def sqrt(self):
        return UnaryOp("sqrt", self)

    def square(self):
        return UnaryOp("square", self)

    def clip(self, lo: float, hi: float):
        return UnaryOp("clip", self, {"lo": lo, "hi": hi})

    # -- serialization ------------------------------------------------------
    def to_config(self) -> dict[str, Any]:
        return {"class": type(self).__name__, "params": self._params()}

    def _params(self) -> dict[str, Any]:
        raise NotImplementedError


def from_config(cfg: dict[str, Any]) -> Transform:
    cls = _REGISTRY[cfg["class"]]
    return cls._from_params(cfg["params"])


@register_transform
class Input(Transform):
    """Column passthrough (reference ``Identity`` transforms.py:25)."""

    def __init__(self, col: str):
        super().__init__(col, [col])
        self.col = col

    def expr(self, ctx):
        return F.col(self.col)

    def _params(self):
        return {"col": self.col}

    @classmethod
    def _from_params(cls, p):
        return cls(**p)


@register_transform
class Rolling(Transform):
    """Windowed transform over one input column, dispatching to the
    ``functions.rolling`` library: kind ∈ {lag, ret, roc, pct_change,
    sma, zscore, rolling_median, …}. Naming convention: {input}_{kind}{n}
    (reference SISO suffix naming ``base.py:486-492``)."""

    _KINDS = {"lag", "ret", "roc", "pct_change", "sma", "zscore", "rolling_median"}

    def __init__(self, kind: str, col: str, n: int, name: str | None = None):
        if kind not in self._KINDS:
            raise ValueError(f"unknown rolling kind {kind!r}")
        super().__init__(name or f"{col}_{kind}{n}", [col])
        self.kind, self.col, self.n = kind, col, n

    def expr(self, ctx):
        from ..functions import rolling as R

        fn = getattr(R, self.kind)
        return fn(self.col, self.n, ctx.window)

    def _params(self):
        return {"kind": self.kind, "col": self.col, "n": self.n, "name": self.name}

    @classmethod
    def _from_params(cls, p):
        return cls(**p)


@register_transform
class Ewma(Transform):
    """Sequential EWMA stage (grouped kernel tier)."""

    sequential = True

    def __init__(self, col: str, span: float, name: str | None = None):
        super().__init__(name or f"{col}_ewma{span:g}", [col])
        self.col, self.span = col, span

    def apply_sequential_stage(self, df: DataFrame, ctx: BuildContext) -> DataFrame:
        from ..functions import arrow
        from ..functions import sequential as S

        col, span, name = self.col, self.span, self.name

        def kernel(cols):
            return {**cols, name: S.ewma(cols[col], span)}

        schema = {**{f.name: f.dataType for f in df.schema}, name: "double"}
        return arrow.groups(df, ctx.part_cols or None, kernel, schema, order=(ctx.order_col,))

    def expr(self, ctx):  # pragma: no cover - sequential path only
        raise NotImplementedError("sequential transform: use apply_sequential_stage")

    def _params(self):
        return {"col": self.col, "span": self.span, "name": self.name}

    @classmethod
    def _from_params(cls, p):
        return cls(**p)


_BINOPS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "min": F.least,
    "max": F.greatest,
}


@register_transform
class BinOp(Transform):
    """Arithmetic/min/max of two transforms; output name op(l,r)
    (reference ``BinaryOpTransform`` base.py:1257-1299 +
    ``MinMaxOpTransform`` base.py:1367-1409). Catalyst CSE replaces the
    reference's cached-child short-circuit."""

    def __init__(self, op: str, left: Transform, right: Transform, name: str | None = None):
        self.op, self.left, self.right = op, left, right
        super().__init__(
            name or f"{op}({left.name},{right.name})",
            sorted(set(left.requires) | set(right.requires)),
        )
        self.sequential = left.sequential or right.sequential
        if self.sequential:
            raise ValueError("op-trees over sequential transforms: materialize them first")

    def expr(self, ctx):
        return _BINOPS[self.op](self.left.expr(ctx), self.right.expr(ctx))

    def _params(self):
        return {
            "op": self.op,
            "left": self.left.to_config(),
            "right": self.right.to_config(),
            "name": self.name,
        }

    @classmethod
    def _from_params(cls, p):
        return cls(p["op"], from_config(p["left"]), from_config(p["right"]), p.get("name"))


_UNARY = {
    "abs": F.abs,
    "log": F.log,
    "log1p": F.log1p,
    "exp": F.exp,
    "sqrt": F.sqrt,
    "square": lambda c: c * c,
}


@register_transform
class UnaryOp(Transform):
    """fn ∘ transform (reference ``UnaryOpTransform`` base.py:1335-1364,
    name registry ``feature/utils.py:79-127``)."""

    def __init__(self, fn: str, child: Transform, args: dict | None = None, name: str | None = None):
        self.fn, self.child, self.args = fn, child, args or {}
        super().__init__(name or f"{fn}({child.name})", child.requires)
        self.sequential = child.sequential

    def expr(self, ctx):
        c = self.child.expr(ctx)
        if self.fn == "clip":
            return F.greatest(F.least(c, F.lit(self.args["hi"])), F.lit(self.args["lo"]))
        return _UNARY[self.fn](c)

    def _params(self):
        return {"fn": self.fn, "child": self.child.to_config(), "args": self.args, "name": self.name}

    @classmethod
    def _from_params(cls, p):
        return cls(p["fn"], from_config(p["child"]), p.get("args"), p.get("name"))


@register_transform
class ConstOp(Transform):
    """transform ∘ scalar (reference ``ConstantOpTransform`` base.py:1302-1332)."""

    def __init__(self, op: str, child: Transform, const: float, name: str | None = None):
        self.op, self.child, self.const = op, child, const
        super().__init__(name or f"{op}({child.name},{const:g})", child.requires)
        self.sequential = child.sequential

    def expr(self, ctx):
        return _BINOPS[self.op](self.child.expr(ctx), F.lit(self.const))

    def _params(self):
        return {"op": self.op, "child": self.child.to_config(), "const": self.const, "name": self.name}

    @classmethod
    def _from_params(cls, p):
        return cls(p["op"], from_config(p["child"]), p["const"], p.get("name"))


@register_transform
class Compose(Transform):
    """Sequential chaining of single-output transforms (reference
    ``Compose`` kit.py:464-721): each step's expression feeds the next
    as a nested expression — Catalyst sees one tree."""

    def __init__(self, *steps: Transform, name: str | None = None):
        self.steps = list(steps)
        super().__init__(name or "->".join(s.name for s in steps), steps[0].requires)
        self.sequential = any(s.sequential for s in steps)

    def expr(self, ctx):
        # steps after the first must be UnaryOp/ConstOp-like over a single
        # input; we rewire each step's child expression
        cur = self.steps[0].expr(ctx)
        for step in self.steps[1:]:
            cur = step._rewire(cur, ctx)
        return cur

    def _params(self):
        return {"steps": [s.to_config() for s in self.steps], "name": self.name}

    @classmethod
    def _from_params(cls, p):
        return cls(*[from_config(s) for s in p["steps"]], name=p.get("name"))


def _rewire_unary(self: UnaryOp, upstream: Column, ctx) -> Column:
    if self.fn == "clip":
        return F.greatest(F.least(upstream, F.lit(self.args["hi"])), F.lit(self.args["lo"]))
    return _UNARY[self.fn](upstream)


UnaryOp._rewire = _rewire_unary


class LambdaOp(Transform):
    """``Feature.apply(fn)`` analog (reference ``kit.py:240-268``): wrap an
    arbitrary in-process array->array callable as an Arrow column kernel
    (``functions.arrow.column``) over one input column. Interactive-use
    escape hatch — NOT JSON-serializable (use ``ExternalFunction`` with
    an import path for persistable pipelines) and opaque to Catalyst
    (documented tradeoff).
    """

    def __init__(self, fn, child: Transform, name: str | None = None):
        super().__init__(name or f"apply({child.name})", child.requires)
        self.fn, self.child = fn, child
        self.sequential = child.sequential

    def expr(self, ctx):
        fn = self.fn
        inner = self.child.expr(ctx)

        def _udf(x):
            return fn(x)

        return arrow.column(_udf, "double")(inner)

    def _params(self):
        raise TypeError("LambdaOp is not serializable; use ExternalFunction")


def _apply(self: Transform, fn, name: str | None = None) -> LambdaOp:
    return LambdaOp(fn, self, name)


Transform.apply = _apply


@register_transform
class ExternalFunction(Transform):
    """Wrap an arbitrary import-path callable as a vectorized transform
    (reference ``ExternalFunction`` transforms.py:1668-1805): the fn is
    resolved at build time and applied as an Arrow column kernel over the
    required columns — serializable by import path. Documented caveat:
    opaque to Catalyst (no pushdown through it)."""

    def __init__(self, import_path: str, cols: list[str], name: str | None = None, kwargs: dict | None = None):
        super().__init__(name or import_path.rsplit(".", 1)[-1], cols)
        self.import_path = import_path
        self.cols = list(cols)
        self.kwargs = kwargs or {}

    def _resolve(self):
        import importlib

        mod, fn = self.import_path.rsplit(".", 1)
        return getattr(importlib.import_module(mod), fn)

    def expr(self, ctx):
        fn = self._resolve()
        kw = self.kwargs

        def _udf(*arrays):
            return fn(*arrays, **kw)

        return arrow.column(_udf, "double")(*[F.col(c) for c in self.cols])

    def _params(self):
        return {
            "import_path": self.import_path,
            "cols": self.cols,
            "name": self.name,
            "kwargs": self.kwargs,
        }

    @classmethod
    def _from_params(cls, p):
        return cls(p["import_path"], p["cols"], p.get("name"), p.get("kwargs"))


class Feature:
    """User-facing wrapper (reference ``Feature`` kit.py:13-461)."""

    def __init__(self, transform: Transform):
        self.transform = transform

    @property
    def name(self) -> str:
        return self.transform.name


class FeatureKit:
    """Batch runner (reference ``FeatureKit`` kit.py:724-1085): one
    ``select`` for all native features; sequential features as grouped
    stages after. ``order`` is accepted for API parity but has no effect
    on correctness — Catalyst orders the DAG."""

    def __init__(self, features: list[Feature | Transform], retain: list[str]):
        self.features = [f.transform if isinstance(f, Feature) else f for f in features]
        self.retain = list(retain)

    def build(self, df: DataFrame, ctx: BuildContext | None = None, order: str = "topo") -> DataFrame:
        ctx = ctx or BuildContext()
        native = [f for f in self.features if not f.sequential]
        seq = [f for f in self.features if f.sequential]
        for f in self.features:
            f.validate(df)
        out = df.select(
            *self.retain, *[f.expr(ctx).alias(f.name) for f in native]
        )
        if seq:
            base = df.select(*self.retain, *[c for c in df.columns if c not in self.retain])
            for f in seq:
                base = f.apply_sequential_stage(base, ctx)
            out = out.join(base.select(*self.retain, *[f.name for f in seq]), self.retain)
        return out

    def profile(self, df: DataFrame, ctx: BuildContext | None = None) -> dict[str, float]:
        """Per-feature wall-time report (parity with the reference's
        timing report, ``kit.py:1068-1084``). Diagnostic only: each
        feature is materialized separately (noop-count action), which
        defeats the shared-plan optimization — never use in production
        paths; ``build`` computes everything in one select."""
        import time

        ctx = ctx or BuildContext()
        out: dict[str, float] = {}
        for f in self.features:
            t0 = time.time()
            if f.sequential:
                f.apply_sequential_stage(df, ctx).count()
            else:
                df.select(f.expr(ctx).alias(f.name)).count()
            out[f.name] = round(time.time() - t0, 4)
        return out

    def graph(self) -> dict[str, list[str]]:
        """name -> dependencies mini-DAG (UX parity with
        ``build_feature_graph`` feature/utils.py:359-397)."""
        return {f.name: list(f.requires) for f in self.features}

    def topological_order(self) -> list[str]:
        return [f.name for f in self.features]

    def visualize(self) -> str:
        """ASCII rendering of the computation DAG (UX parity with the
        reference's ``ComputationGraph.visualize``,
        ``feature/utils.py:339-357``): one ``src -> [dest, ...]`` line
        per source, raw columns as ``input:<col>`` nodes, plus
        feature→feature edges when one feature requires another's
        output."""
        outputs = {f.name for f in self.features}
        edges: dict[str, set[str]] = {}
        for f in self.features:
            for r in f.requires:
                src = r if r in outputs else f"input:{r}"
                if src != f.name:
                    edges.setdefault(src, set()).add(f.name)
        lines = ["ComputationGraph:"]
        for src in sorted(edges):
            lines.append(f"  {src} -> [{', '.join(sorted(edges[src]))}]")
        return "\n".join(lines)

    # -- serialization ------------------------------------------------------
    def to_config(self) -> dict[str, Any]:
        return {
            "features": [f.to_config() for f in self.features],
            "retain": self.retain,
        }

    @classmethod
    def from_config(cls, cfg: dict[str, Any]) -> FeatureKit:
        return cls([from_config(f) for f in cfg["features"]], cfg["retain"])

    def save_config(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump(self.to_config(), fh, indent=2)

    @classmethod
    def load_config(cls, path: str) -> FeatureKit:
        import json

        with open(path) as fh:
            return cls.from_config(json.load(fh))
