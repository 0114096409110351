"""EditorForward: sequential string/date edit pipeline.

Parity target: reference `src/io/forward/EditorForward.java` — edits
apply in order; a failing step drops the record (:113-119); dispatch
table at :191-287.

Spark-first: each step is a Column→Column string expression; the chain
composes at plan-build time into one projection (codegen fuses it).
"Failing step drops record" maps to null-propagation + a final
`filter(col.isNotNull())` — same observable semantics, no per-row
control flow.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dcafs_spark.functions.timefn import java_pattern_to_spark, millisdate, redate


@dataclass
class Edit:
    kind: str
    args: dict


def _filler_parts(text: str, rtvals: dict[str, Column] | None, error: str) -> list[Column]:
    """Literal filler text, with `{r:name}`/`{t:name}` refs resolved
    through the rtvals column mapping (ValTools.parseRTline — the
    stream-static lookup; unresolvable refs become the error default,
    EditorForward.java:499-505)."""
    import re

    parts: list[Column] = []
    pos = 0
    for m in re.finditer(r"\{[ritf]:([^}]+)\}", text):
        if m.start() > pos:
            parts.append(F.lit(text[pos : m.start()]))
        name = m.group(1)
        if rtvals and name in rtvals:
            parts.append(rtvals[name].cast("string"))
        else:
            parts.append(F.lit(error))
        pos = m.end()
    if pos < len(text):
        parts.append(F.lit(text[pos:]))
    return parts


def _apply_edit(
    col: Column, e: Edit, delimiter: str, rtvals: dict[str, Column] | None = None
) -> Column:
    k, a = e.kind.lower(), e.args
    if k == "resplit":
        # split on delim, re-template 'i0-i1...' with literal filler
        # (EditorForward.java:466-523)
        delimiter = a.get("delimiter", delimiter)  # edit-local override:
        # the leftover append below must rejoin with the SAME delimiter
        # the split used, not the path default (round-11 review)
        arr = F.split(col, F.lit(delimiter), -1)
        import re

        parts: list[Column] = []
        template: str = a["template"]
        error = a.get("error", "NaN")
        pos = 0
        used: set[int] = set()
        for m in re.finditer(r"i(\d+)", template):
            if m.start() > pos:
                parts.extend(_filler_parts(template[pos : m.start()], rtvals, error))
            idx = int(m.group(1))
            used.add(idx)
            parts.append(F.try_element_at(arr, F.lit(idx + 1)))
            pos = m.end()
        if pos < len(template):
            parts.extend(_filler_parts(template[pos:], rtvals, error))
        out = F.concat(*parts) if parts else F.lit("")
        if a.get("leftover", "remove") == "append":
            n = (max(used) + 1) if used else 0
            rest = F.array_join(F.slice(arr, n + 1, F.greatest(F.size(arr) - n, F.lit(0))), delimiter)
            out = F.when(F.size(arr) > n, F.concat(out, F.lit(delimiter), rest)).otherwise(out)
        return out
    if k == "charsplit":
        # split at fixed char positions, rejoin with delimiter (:314-350)
        positions: list[int] = a["positions"]
        d = a.get("delimiter", delimiter)
        bounds = [0, *positions]
        pieces = [
            F.substring(col, b + 1, (bounds[i + 1] - b) if i + 1 < len(bounds) else 10_000)
            for i, b in enumerate(bounds)
        ]
        # concat_ws never returns null — guard so a row failed by an
        # earlier edit STAYS failed (EditorForward.java:113-119) instead
        # of resurrecting as ''
        return F.when(col.isNotNull(), F.concat_ws(d, *pieces))
    if k in ("rexsplit", "rexkeep"):
        # keep all regex matches, join with delim (:446-460)
        return F.array_join(F.regexp_extract_all(col, F.lit(a["regex"]), 0), a.get("delimiter", ""))
    if k in ("redate", "retime", "millisdate"):
        if k == "millisdate":
            fn = lambda c: millisdate(c, a.get("to", "sql"))  # noqa: E731
        else:
            fn = lambda c: redate(c, a["from"], a["to"])  # noqa: E731
        if "index" in a:
            # reference applies the date edit to ONE delimited field and
            # rejoins (EditorForward.java:391-414 index attribute)
            d = a.get("delimiter", delimiter)
            arr = F.split(col, F.lit(d), -1)
            idx = int(a["index"])
            new = F.transform(arr, lambda x, i: F.when(i == idx, fn(x)).otherwise(x))
            # a failed (null) field must fail the ROW; array_join would
            # silently drop the null element instead
            return F.when(~F.exists(new, lambda x: x.isNull()), F.array_join(new, d))
        return fn(col)
    if k == "replace":
        return F.replace(col, F.lit(a["find"]), F.lit(a["replacement"]))
    if k == "remove":
        return F.replace(col, F.lit(a["find"]), F.lit(""))
    if k == "rexreplace":
        return F.regexp_replace(col, a["regex"], a["replacement"])
    if k == "rexremove":
        return F.regexp_replace(col, a["regex"], "")
    if k == "trim":
        return F.trim(col)
    if k == "prepend":
        return F.concat(F.lit(a["text"]), col)
    if k == "append":
        return F.concat(col, F.lit(a["text"]))
    if k == "insert":
        p = int(a["position"])
        return F.concat(F.substring(col, 1, p), F.lit(a["text"]), F.substring(col, p + 1, 1_000_000))
    if k == "cutstart":
        # drop N chars from front; fails the row if too short (:568-575)
        n = int(a["count"])
        return F.when(F.length(col) >= n, F.substring(col, n + 1, 1_000_000))
    if k == "cutend":
        n = int(a["count"])
        return F.when(F.length(col) >= n, F.substring(col, 1, F.length(col) - n).cast("string"))
    if k == "toascii":
        # delimited char codes → string (:576-583). A non-numeric code
        # fails the ROW (the reference's parseInt throws → :113-119
        # drops the record); array_join alone would silently skip the
        # NULL char instead (round-11 review, same guard as redate)
        arr = F.split(col, F.lit(a.get("delimiter", delimiter)), -1)
        chars = F.transform(arr, lambda x: F.char(x.try_cast("int")))
        return F.when(~F.exists(chars, lambda x: x.isNull()), F.array_join(chars, ""))
    if k == "listreplace":
        # field value = index into a lookup list, offset `first` (:289-313)
        first = int(a.get("first", 0))
        lookup = F.array(*[F.lit(x) for x in a["list"]])
        return F.try_element_at(lookup, col.try_cast("int") - first + 1)
    raise ValueError(f"unknown edit kind: {e.kind}")


@dataclass
class EditorForward:
    edits: list[Edit]
    delimiter: str = ","
    column: str = "value"
    # {r:name} refs in resplit fillers resolve to these Columns — the
    # caller joins/broadcasts the values snapshot and maps names here
    # (same stream-static pattern as MathForward.rtvals)
    rtvals: dict[str, Column] = None  # type: ignore[assignment]

    def bind(self, drop_failed: bool = True) -> Callable[[DataFrame], DataFrame]:
        """Compose the edit chain's Column once; the returned function
        applies it to any frame it is given."""
        col = F.col(self.column)
        for e in self.edits:
            col = _apply_edit(col, e, self.delimiter, self.rtvals)
        ok = F.col(self.column).isNotNull()

        def run(df: DataFrame) -> DataFrame:
            out = df.withColumn(self.column, col)
            return out.filter(ok) if drop_failed else out

        return run

    def apply(self, df: DataFrame, drop_failed: bool = True) -> DataFrame:
        return self.bind(drop_failed)(df)
