"""Parser compilers — csv / regex / jsonify over the `message` column.

Reproduces /root/reference/agent/task/task.go:201-254:

* ``csv``   — ``strings.SplitN(message, delim, len(columns))``: the last
  column keeps remaining delimiters; fewer parts than columns leaves the
  trailing columns absent (NULL). Compiled to a single ``split`` +
  ``F.get`` projections (ANSI-safe, null on short rows).
* ``regex`` — named-group extraction with unanchored search; NO match
  leaves the row intact with all group columns absent (NULL); a matched
  row yields "" for non-participating groups (Go FindStringSubmatch).
  Two physical strategies:
    - native: per-group ``regexp_extract`` guarded by one ``rlike``
      (whole-stage codegen; the regex literally runs k+1 times but stays
      JVM-side — best for few groups);
    - grok: ONE Arrow-batched pandas UDF evaluating a precompiled pattern
      per batch (single ``re.search`` per row, all groups read off the
      match object) returning a struct (the BASELINE north-star path;
      best for dictionary-sized group sets).
* ``jsonify`` — ``json.Unmarshal`` merged into the row. Schema-first:
  the spec declares columns+types; compiled to one ``from_json`` +
  flatten. A corrupt document is a parse error => row dropped from all
  sinks and counted (task.go:104-111). Go yields float64 for all JSON
  numbers — declare ``double`` for Go-parity (`number` validators then
  fail, matching validator.go:69-83).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logagent_spark.config import ParserSpec
from logagent_spark.functions import (
    escaped_split,
    go_regex_groups,
    is_string,
    to_java_regex,
    type_by_name,
)
from logagent_spark.functions.grok import expand_grok

Schema = dict[str, T.DataType]


@dataclass
class CompiledParser:
    """Projections to apply (in order), an optional parse-error reason
    Column, and the schema updates the parser introduces."""

    columns: list[tuple[str, Column]] = field(default_factory=list)
    error: Column | None = None
    schema_updates: dict[str, T.DataType] = field(default_factory=dict)


def compile_parser(
    spec: ParserSpec, schema: Schema, *, regex_strategy: str = "native"
) -> CompiledParser:
    if not spec.mode:
        return CompiledParser()
    if "message" not in schema or not is_string(schema["message"]):
        # non-string message: every parser is a no-op (task.go:216, 231, 249)
        return CompiledParser()
    msg = F.col("message")

    if spec.mode == "csv":
        delim = spec.delimiters or ","
        n = len(spec.columns)
        parts = escaped_split(msg, delim, n)
        # Go leaves the row untouched where the split comes up short
        # (task.go:216-222): a pre-existing STRING column keeps its value
        # when its part is absent. (A pre-existing non-string column is
        # still overwritten with NULL — columnar schemas are uniform;
        # documented divergence, same family as the jsonify merge note.)
        cols = []
        for i, name in enumerate(spec.columns):
            part = F.get(parts, i)
            if name in schema and is_string(schema[name]):
                part = F.coalesce(part, F.col(name))
            cols.append((name, part))
        return CompiledParser(
            columns=cols,
            schema_updates={name: T.StringType() for name in spec.columns},
        )

    if spec.mode == "regex":
        # `%{NAME:field}` grok references expand to named groups first
        # (a pattern without references passes through untouched)
        pattern = expand_grok(spec.regex)
        groups = go_regex_groups(pattern)  # name -> idx (validates syntax)
        if regex_strategy == "grok":
            return _compile_grok(pattern, groups)
        jpat = to_java_regex(pattern)
        matched = msg.rlike(jpat)
        # no-match leaves the row untouched (task.go:227-236): a
        # pre-existing STRING column keeps its value on unmatched rows
        # (non-string pre-existing columns: see the csv note above)
        cols = []
        for name, idx in groups.items():
            extracted = F.when(matched, F.regexp_extract(msg, jpat, idx))
            if name in schema and is_string(schema[name]):
                extracted = extracted.otherwise(F.col(name))
            cols.append((name, extracted))
        return CompiledParser(
            columns=cols,
            schema_updates={name: T.StringType() for name in groups},
        )

    if spec.mode == "grok":
        if regex_strategy == "native":
            return _compile_grok_dictionary_native(spec.patterns)
        return _compile_grok_dictionary(spec.patterns)

    if spec.mode == "jsonify":
        corrupt = "_corrupt"
        struct_type = T.StructType(
            [
                T.StructField(c, type_by_name(spec.types.get(c, "string")), True)
                for c in spec.columns
            ]
            + [T.StructField(corrupt, T.StringType(), True)]
        )
        parsed = F.from_json(
            msg, struct_type, {"columnNameOfCorruptRecord": corrupt}
        )
        # malformed OR non-object input populates the corrupt-record field
        # (Go: Unmarshal of a non-object into map[string]interface{} errors);
        # NULL message passes through untouched (no parse attempt).
        err = F.when(
            parsed.getField(corrupt).isNotNull(), F.lit("parse_error:jsonify")
        )
        tmp = "_jsonify_parsed"
        cols: list[tuple[str, Column]] = [(tmp, parsed)]
        for c in spec.columns:
            new = F.col(tmp).getField(c)
            if c in schema:
                # Unmarshal merges: a key absent from the document keeps the
                # pre-existing value. (JSON-null and absent both map to NULL
                # here — documented divergence, SURVEY.md §2.2.)
                old_dt, new_dt = schema[c], struct_type[c].dataType
                if old_dt == new_dt:
                    new = F.coalesce(new, F.col(c))
            cols.append((c, new))
        cols.append((tmp, None))  # sentinel: drop the temp struct
        updates = {
            f.name: f.dataType
            for f in struct_type.fields
            if f.name != corrupt
        }
        if spec.attrs:
            # dynamic-key overflow (SURVEY §1.4): the reference merges
            # EVERY top-level key into the row (task.go:244-250); the
            # undeclared ones land in a map<string,string> column so no
            # data is silently dropped. Values are the JSON scalars
            # rendered as strings (numbers/bools/objects keep their JSON
            # text) — a stringly-typed view of Go's interface{} values;
            # validators consult it via element_at (see validators.py).
            map_t = T.MapType(T.StringType(), T.StringType())
            overflow = F.map_filter(
                F.from_json(msg, map_t),
                lambda k, _: ~k.isin(*spec.columns),
            )
            cols.append((spec.attrs, overflow))
            updates[spec.attrs] = map_t
        return CompiledParser(
            columns=cols,
            error=err,
            schema_updates=updates,
        )

    raise ValueError(f"unsupported parser mode `{spec.mode}`")


def _compile_grok_dictionary_native(
    patterns: dict[str, str]
) -> CompiledParser:
    """Grok dictionary compiled to pure Column expressions (JVM,
    whole-stage codegen): `grok_pattern` is a when-chain of rlike guards
    in dictionary order; each group column is a when-chain over ALL
    patterns (a winning pattern that lacks the group yields NULL, same
    as the UDF strategy). Each pattern's rlike literally appears in
    several projections, but ProjectExec's runtime subexpression
    elimination evaluates it once per row; the per-group regexp_extract
    re-runs the winning regex — the JVM-vs-Python tradeoff both
    strategies exist to let users measure."""
    order: list[tuple[str, str, dict[str, int]]] = []
    all_groups: list[str] = []
    for name, p in patterns.items():
        pattern = expand_grok(p)
        groups = go_regex_groups(pattern)
        order.append((name, to_java_regex(pattern), groups))
        for g in groups:
            if g not in all_groups:
                all_groups.append(g)

    msg = F.col("message")
    name_expr = F.lit(None).cast(T.StringType())
    chain = None
    for name, jpat, _ in order:
        m = msg.rlike(jpat)
        chain = F.when(m, F.lit(name)) if chain is None else chain.when(
            m, F.lit(name)
        )
    name_expr = chain if chain is not None else name_expr

    cols: list[tuple[str, Column]] = [("grok_pattern", name_expr)]
    updates: dict[str, T.DataType] = {"grok_pattern": T.StringType()}
    for g in all_groups:
        gchain = None
        for name, jpat, groups in order:
            m = msg.rlike(jpat)
            val = (
                F.regexp_extract(msg, jpat, groups[g])
                if g in groups
                else F.lit(None).cast(T.StringType())
            )
            gchain = F.when(m, val) if gchain is None else gchain.when(m, val)
        cols.append((g, gchain))
        updates[g] = T.StringType()
    return CompiledParser(columns=cols, schema_updates=updates)


def _compile_grok_dictionary(patterns: dict[str, str]) -> CompiledParser:
    """Grok DICTIONARY (BASELINE north-star): ordered named patterns,
    first matching pattern wins and contributes its named groups; the
    winning pattern's name lands in `grok_pattern`. One vectorized
    pandas UDF evaluates the whole dictionary per Arrow batch — each
    pattern runs only on the rows no earlier pattern matched.
    `%{NAME:field}` grok references expand before compilation."""
    compiled = {
        name: re.compile(expand_grok(p)) for name, p in patterns.items()
    }
    all_groups: list[str] = []
    for name, cre in compiled.items():
        for g in cre.groupindex:
            if g not in all_groups:
                all_groups.append(g)
    out_type = T.StructType(
        [T.StructField("grok_pattern", T.StringType(), True)]
        + [T.StructField(g, T.StringType(), True) for g in all_groups]
    )

    # (pattern name, bound search, [(group name, group idx)]) — resolved
    # once per executor so the batch loop touches no dicts.
    plan = [
        (name, cre.search, list(cre.groupindex.items()))
        for name, cre in compiled.items()
    ]

    @F.pandas_udf(out_type)
    def grok_dict(s: pd.Series) -> pd.DataFrame:
        # One `re.search` per (row, pattern-until-first-hit): the match
        # object yields every group, so no second extract pass. This is
        # the minimum regex work the dictionary semantics permit.
        vals = s.to_numpy(dtype=object)
        n_rows = len(vals)
        out = {c: np.empty(n_rows, dtype=object)
               for c in ("grok_pattern", *all_groups)}
        for i, v in enumerate(vals):
            if type(v) is not str:
                continue
            for name, search, gitems in plan:
                m = search(v)
                if m is None:
                    continue
                out["grok_pattern"][i] = name
                g = m.group
                for gname, gi in gitems:
                    val = g(gi)
                    out[gname][i] = val if val is not None else ""
                break
        return pd.DataFrame(out, index=s.index)

    tmp = "_grokdict_parsed"
    cols: list[tuple[str, Column]] = [(tmp, grok_dict(F.col("message")))]
    updates: dict[str, T.DataType] = {"grok_pattern": T.StringType()}
    cols.append(("grok_pattern", F.col(tmp).getField("grok_pattern")))
    for g in all_groups:
        cols.append((g, F.col(tmp).getField(g)))
        updates[g] = T.StringType()
    cols.append((tmp, None))
    return CompiledParser(columns=cols, schema_updates=updates)


# ---------------------------------------------------------------------------
# grok path: one Arrow-vectorized pandas UDF per pattern

def _compile_grok(pattern: str, groups: dict[str, int]) -> CompiledParser:
    names = list(groups)
    out_type = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in names]
    )
    # Precompile once per executor: the pattern is captured in the closure
    # and compiled at UDF-definition time, not per batch (SURVEY.md §4).
    cre = re.compile(pattern)

    @F.pandas_udf(out_type)
    def grok_extract(s: pd.Series) -> pd.DataFrame:
        # One `re.search` per row; the match object yields every group
        # (Series.str.extract + str.contains would run the regex twice —
        # measured 2x slower on 1 KB prose docs at 100k rows).
        # Go parity: in a matched row a non-participating group is "";
        # in an unmatched/null row every group stays NULL.
        search = cre.search
        vals = s.to_numpy(dtype=object)
        n_rows = len(vals)
        out = {n: np.empty(n_rows, dtype=object) for n in names}
        for i, v in enumerate(vals):
            if type(v) is not str:
                continue
            m = search(v)
            if m is None:
                continue
            g = m.group
            for n, gi in groups.items():
                val = g(gi)
                out[n][i] = val if val is not None else ""
        return pd.DataFrame(out, index=s.index)

    tmp = "_grok_parsed"
    cols: list[tuple[str, Column]] = [(tmp, grok_extract(F.col("message")))]
    for n in names:
        cols.append((n, F.col(tmp).getField(n)))
    cols.append((tmp, None))
    return CompiledParser(
        columns=cols,
        schema_updates={n: T.StringType() for n in names},
    )
