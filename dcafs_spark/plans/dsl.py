"""Pipeline DSL: declarative path specs compiled to DataFrame plans.

Parity target: the reference's *path* concept — an ordered chain of
forwards with a shared delimiter and failure routing
(`src/io/forward/PathForward.java:115-263`), declared in XML. Here a
path is a plain dict (JSON/YAML-friendly), and "compilation" builds a
lazy DataFrame transformation chain — Catalyst then fuses every step
into as few physical operators as the expressions allow, so a
10-step path typically runs as ONE whole-stage-codegen projection
over the scan. Nothing in the compiled plan is per-row Python.

Spec shape::

    {
      "id": "sbe38",
      "delimiter": ",",
      "steps": [
        {"type": "filter", "rules": [["start", "$"]], "negate": false,
         "reject": "bad_lines"},            # optional failure route
        {"type": "math", "ops": [{"target": "i1", "formula": "i1*0.001"}]},
        {"type": "editor", "edits": [{"kind": "trim", "args": {}}]},
        {"type": "generic", "fields": [
            {"name": "temp", "index": 1, "dtype": "real"}],
         "keep": ["origin", "ts"]},
      ]
    }

`compile_path` returns (main DataFrame, {reject_tag: DataFrame}).
The same compiler serves batch and streaming inputs — a streaming df
flows through identically (all steps are narrow transformations).
Compiling is bind-then-apply: `bind_path` builds every step's Columns
once (each is a tree of JVM calls), and the `BoundPath` it returns
applies them to any number of frames. A streaming path binds at start
and applies per micro-batch; only `valmap` (its output columns follow
the frame's) and `custom` (a user function) still run their build per
frame.

A filter step's failure route mirrors the reference's *reverse
targets* (`FilterForward.java:69-81`): the complementary predicate
over the same parent plan. Catalyst reuses the scan for both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame

from dcafs_spark.operators.editor_forward import Edit, EditorForward
from dcafs_spark.operators.filter_forward import FilterForward
from dcafs_spark.operators.math_forward import MathForward, MathOp
from dcafs_spark.operators.projection import Field, Generic, valmap

PathSpec = dict[str, Any]


def _build_filter(step: dict, delimiter: str, column: str) -> FilterForward:
    return FilterForward(
        rules=[tuple(r) for r in step["rules"]],
        delimiter=step.get("delimiter", delimiter),
        negate=bool(step.get("negate", False)),
        column=column,
    )


def _build_math(step: dict, delimiter: str, column: str) -> MathForward:
    ops = [
        MathOp(
            target=o["target"],
            formula=o["formula"],
            special=o.get("special"),
            scale=o.get("scale"),
        )
        for o in step["ops"]
    ]
    return MathForward(
        ops=ops,
        delimiter=step.get("delimiter", delimiter),
        column=column,
        consts=step.get("consts", {}),
        suffix=step.get("suffix"),
    )


def _build_editor(step: dict, delimiter: str, column: str) -> EditorForward:
    edits = [Edit(e["kind"], e.get("args", {})) for e in step["edits"]]
    return EditorForward(edits=edits, delimiter=step.get("delimiter", delimiter), column=column)


def _build_generic(step: dict, delimiter: str) -> Generic:
    fields = [
        Field(
            name=f["name"],
            index=f.get("index", i),
            dtype=f.get("dtype", "real"),
            default=f.get("default"),
        )
        for i, f in enumerate(step["fields"])
    ]
    return Generic(
        fields=fields,
        delimiter=step.get("delimiter", delimiter),
        startswith=step.get("startswith", ""),
        nrs_mode=bool(step.get("nrs", False)),
    )


Step = Callable[[DataFrame, dict[str, DataFrame]], DataFrame]


def _bind_step(step: dict, delimiter: str, column: str) -> Step:
    """One step spec → a function (frame, rejects-by-tag) → frame, with
    the step's Columns already built; a reject route adds its frame to
    the rejects."""
    kind = step["type"].lower()
    if kind == "filter":
        keep = _build_filter(step, delimiter, column).predicate()
        if "reject" not in step:
            return lambda df, _rejects: df.filter(keep)
        tag, drop = step["reject"], ~keep

        def fork(df: DataFrame, rejects: dict[str, DataFrame]) -> DataFrame:
            rejects[tag] = df.filter(drop)
            return df.filter(keep)

        return fork
    if kind == "math":
        mf = _build_math(step, delimiter, column)
        run = mf.bind_typed(step.get("keep")) if step.get("typed", False) else mf.bind()
    elif kind == "editor":
        run = _build_editor(step, delimiter, column).bind()
    elif kind == "generic":
        run = _build_generic(step, delimiter).bind(step.get("keep"))
    elif kind == "valmap":
        # its output columns follow the input frame's, so it builds per frame
        split, multi = step.get("split", ":"), step.get("multi")
        run = lambda df: valmap(df, split=split, multi_delimiter=multi, column=column)  # noqa: E731
    elif kind == "custom":
        # extension point — the Spark analog of the reference's
        # custom label handlers (LabelWorker doLABEL(Datagram),
        # manual 'Adding a label' / SURVEY §2.10): a user callable
        # DataFrame -> DataFrame spliced into the compiled chain, run
        # on every frame. Distribution discipline is the author's
        # contract, same as any DataFrame transform; no driver-side row
        # loop exists here for one to accidentally fall into.
        run = step.get("fn")
        if not callable(run):
            raise ValueError("custom step needs a callable 'fn'")
    else:
        raise ValueError(f"unknown step type: {kind}")
    return lambda df, _rejects: run(df)


@dataclass(frozen=True)
class BoundPath:
    """A path whose steps are built: calling it on a frame only applies
    the prepared Columns, returning (main, rejects-by-tag)."""

    steps: tuple[Step, ...]

    def __call__(self, df: DataFrame) -> tuple[DataFrame, dict[str, DataFrame]]:
        rejects: dict[str, DataFrame] = {}
        for step in self.steps:
            df = step(df, rejects)
        return df, rejects


def bind_steps(steps: list[dict], delimiter: str = ",", column: str = "value") -> BoundPath:
    """Build every step once. A spec that cannot be built raises here."""
    return BoundPath(tuple(_bind_step(step, delimiter, column) for step in steps))


def bind_path(spec: PathSpec) -> BoundPath:
    """Build a full path spec once, for applying to many frames."""
    return bind_steps(
        spec.get("steps", []),
        delimiter=spec.get("delimiter", ","),
        column=spec.get("column", "value"),
    )


def compile_steps(
    df: DataFrame, steps: list[dict], delimiter: str = ",", column: str = "value"
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Apply each step in order; returns (main, rejects-by-tag)."""
    return bind_steps(steps, delimiter, column)(df)


def compile_path(
    df: DataFrame, spec: PathSpec | BoundPath
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Compile a full path spec against an input DataFrame; a path bound
    by ``bind_path`` skips the build."""
    bound = spec if isinstance(spec, BoundPath) else bind_path(spec)
    return bound(df)
