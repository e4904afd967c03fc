"""Parser compilers — csv / regex / grok / jsonify over the `message` column.

Reproduces /root/reference/agent/task/task.go:201-254:

* ``csv``   — ``strings.SplitN(message, delim, len(columns))``: the last
  column keeps remaining delimiters; fewer parts than columns leaves the
  trailing columns absent (NULL). Compiled to a single ``split`` +
  ``F.get`` projections (ANSI-safe, null on short rows).
* ``regex`` / ``grok`` — named-group extraction with unanchored search.
  ``grok`` is an ordered dictionary of patterns: the first match wins
  and its name lands in ``grok_pattern``. ``regex`` is compiled as the
  one-entry dictionary that emits no ``grok_pattern``. A matched row
  yields "" for non-participating groups (Go FindStringSubmatch). No
  match, or a winner that lacks a group, leaves the row intact: an
  output column absent before the parse is NULL, a pre-existing string
  one keeps its value. One compiler per ``regex_strategy``:
    - native: when-chains of ``rlike`` guards + ``regexp_extract`` per
      group (whole-stage codegen; the winning regex runs once more per
      group, but everything stays JVM-side);
    - grok: ONE Arrow-batched pandas UDF running the whole dictionary
      per batch (one ``re.search`` per row and pattern until the first
      hit, all groups read off the match object) returning a struct.
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
        # (task.go:216-222)
        return _string_outputs(
            schema,
            {name: F.get(parts, i) for i, name in enumerate(spec.columns)},
        )

    if spec.mode in ("regex", "grok"):
        if regex_strategy not in ("native", "grok"):
            raise ValueError(f"unsupported regex_strategy `{regex_strategy}`")
        compile_dictionary = (
            _compile_grok_dictionary_native if regex_strategy == "native"
            else _compile_grok_dictionary
        )
        if spec.mode == "regex":
            return compile_dictionary({"": spec.regex}, schema, None)
        return compile_dictionary(spec.patterns, schema, "grok_pattern")

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


def _string_outputs(
    schema: Schema, outputs: dict[str, Column]
) -> CompiledParser:
    """String output columns that leave the row untouched where their
    value is NULL: a pre-existing STRING column keeps its value. (A
    pre-existing non-string column is still overwritten with NULL —
    columnar schemas are uniform; documented divergence, same family as
    the jsonify merge note.)"""
    return CompiledParser(
        columns=[
            (c, F.coalesce(v, F.col(c))
             if c in schema and is_string(schema[c]) else v)
            for c, v in outputs.items()
        ],
        schema_updates={c: T.StringType() for c in outputs},
    )


def _dictionary(
    patterns: dict[str, str]
) -> tuple[list[tuple[str, str, dict[str, int]]], list[str]]:
    """(name, expanded pattern, group name -> idx) per pattern in
    dictionary order, and every group name in order of first
    appearance. `%{NAME:field}` grok references expand to named groups
    first (a pattern without references passes through untouched)."""
    entries = []
    all_groups: list[str] = []
    for name, p in patterns.items():
        pattern = expand_grok(p)
        groups = go_regex_groups(pattern)  # validates syntax
        entries.append((name, pattern, groups))
        all_groups += [g for g in groups if g not in all_groups]
    return entries, all_groups


def _compile_grok_dictionary_native(
    patterns: dict[str, str], schema: Schema, name_col: str | None
) -> CompiledParser:
    """Grok dictionary compiled to pure Column expressions (JVM,
    whole-stage codegen): every output column is a when-chain of rlike
    guards in dictionary order — the winner's name for `name_col`, its
    regexp_extract for a group (NULL if the winner lacks the group).
    Each pattern's rlike literally appears in several projections, but
    ProjectExec's runtime subexpression elimination evaluates it once
    per row; the per-group regexp_extract re-runs the winning regex —
    the JVM-vs-Python tradeoff both strategies exist to let users
    measure."""
    entries, all_groups = _dictionary(patterns)
    msg = F.col("message")
    jpats = [to_java_regex(p) for _, p, _ in entries]

    def first_match(values: list[Column]) -> Column:
        chain = None
        for jpat, v in zip(jpats, values):
            m = msg.rlike(jpat)
            chain = F.when(m, v) if chain is None else chain.when(m, v)
        return chain

    outputs: dict[str, Column] = {}
    if name_col:
        outputs[name_col] = first_match([F.lit(n) for n, _, _ in entries])
    for g in all_groups:
        outputs[g] = first_match([
            F.regexp_extract(msg, jpat, groups[g]) if g in groups
            else F.lit(None).cast(T.StringType())
            for jpat, (_, _, groups) in zip(jpats, entries)
        ])
    return _string_outputs(schema, outputs)


def _compile_grok_dictionary(
    patterns: dict[str, str], schema: Schema, name_col: str | None
) -> CompiledParser:
    """The dictionary as ONE vectorized pandas UDF per Arrow batch, the
    BASELINE north-star path: each pattern runs only on the rows no
    earlier pattern matched, and the struct it returns carries exactly
    the output columns."""
    entries, all_groups = _dictionary(patterns)
    outputs = ([name_col] if name_col else []) + all_groups
    out_type = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in outputs]
    )

    # (pattern name, bound search, [(group name, group idx)]) — compiled
    # once per executor so the batch loop touches no dicts.
    plan = [
        (name, re.compile(p).search, list(groups.items()))
        for name, p, groups in entries
    ]

    @F.pandas_udf(out_type)
    def grok_dict(s: pd.Series) -> pd.DataFrame:
        # One `re.search` per (row, pattern-until-first-hit): the match
        # object yields every group, so no second extract pass. This is
        # the minimum regex work the dictionary semantics permit.
        vals = s.to_numpy(dtype=object)
        n_rows = len(vals)
        out = {c: np.empty(n_rows, dtype=object) for c in all_groups}
        names = np.empty(n_rows, dtype=object)
        for i, v in enumerate(vals):
            if type(v) is not str:
                continue
            for name, search, gitems in plan:
                m = search(v)
                if m is None:
                    continue
                names[i] = name
                g = m.group
                for gname, gi in gitems:
                    val = g(gi)
                    out[gname][i] = val if val is not None else ""
                break
        if name_col:
            out = {name_col: names, **out}
        return pd.DataFrame(out, index=s.index)

    tmp = "_grokdict_parsed"
    parsed = _string_outputs(
        schema, {c: F.col(tmp).getField(c) for c in outputs}
    )
    parsed.columns = [(tmp, grok_dict(F.col("message"))), *parsed.columns,
                      (tmp, None)]
    return parsed
