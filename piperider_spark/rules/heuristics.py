"""Heuristic keep/drop rules as native Spark Column expressions.

Everything here stays JVM-side (whole-stage codegen): string length checks,
role/JSON validity via from_json, the duplicate-turn check via one lag()
window over (conv_id, turn_idx). The repetition rule's *inputs* (n_tok,
rep_ratio) come from the fused signal UDF — tokenizing JVM-side cost more
than the model signals combined — but the rule itself is still a native
threshold expression here. The pipeline has exactly ONE python crossing
(signals + conditional scrub, signals/udfs.make_process_udf).

Reference mapping (SURVEY.md §2.2/§2.5):
  * validity predicates  -> profiler.py:802-809 CASE-cascades      -> F.when chains
  * valids/invalids algebra -> profiler.py:748-750                 -> from_json null => invalid
  * derived flag columns -> profiler.py:810-820                    -> boolean rule columns
  * stable turn ordering -> new (north rule) lag window over (conv_id, turn_idx)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from piperider_spark.rules.spec import DEFAULT_SPEC, RuleSpec

# from_json target for tool-call payloads; a payload is schema-valid iff it
# parses and carries a string `name` (from_json yields a NULL struct/field on
# malformed input — the reference's invalids algebra, profiler.py:748-750).
TOOL_SCHEMA = "name string, arguments map<string,string>"

RULE_ORDER = DEFAULT_SPEC.reason_order


def rule_columns(spec: RuleSpec = DEFAULT_SPEC) -> dict[str, Column]:
    """Per-turn drop predicates (True == drop reason fires).

    The duplicate_turn rule needs the lag window and is added by
    ``apply_rules`` (it is the only rule that is not row-local). The langid /
    perplexity rules consume the ``lang`` / ``ppl`` columns produced by
    the fused signal UDF (``signals.udfs.make_process_udf``).
    """
    text = F.col("text")
    role = F.col("role")

    return {
        "role_invalid": role.isNull() | ~role.isin(*spec.valid_roles),
        "text_empty": text.isNull() | (F.length(F.trim(text)) == 0),
        "too_long": F.coalesce(F.length(text), F.lit(0)) > spec.max_chars,
        # n_tok / rep_ratio come from the fused signal UDF (signals/udfs.py)
        # — tokenizing JVM-side (split + array_distinct) costs more than
        # every python signal combined, so the token stats ride the same
        # Arrow crossing and the *rule* stays a native expression here
        "repetition": (F.col("n_tok") >= spec.rep_min_tokens)
        & (F.col("rep_ratio") > spec.rep_max_ratio),
        "tool_json_invalid": (role == spec.tool_role)
        & F.from_json(F.col("tool"), TOOL_SCHEMA).getField("name").isNull(),
        "non_english": F.col("lang").isNotNull() & ~F.col("lang").isin(*spec.langid_keep),
        "high_perplexity": (F.coalesce(F.length(text), F.lit(0)) >= spec.ppl_min_chars)
        & (F.col("ppl") > spec.ppl_max),
    }


def duplicate_turn_col(spec: RuleSpec = DEFAULT_SPEC) -> Column:
    """Turn text byte-equal to the previous turn of the same conversation.

    One window, partitioned by conv_id ordered by turn_idx — the stable
    ordering the north rule mandates. Long-conversation skew is bounded: a
    window partition is one conversation (<=10^4 turns), far below executor
    memory; the *shuffle* skew is what the pipeline's salting handles for
    aggregates, while lag() requires true conv grouping and gets AQE skew
    mitigation instead.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("text").over(w)
    return F.col("text").isNotNull() & prev.isNotNull() & (F.col("text") == prev)


def apply_rules(df: DataFrame, spec: RuleSpec = DEFAULT_SPEC) -> DataFrame:
    """Attach one boolean column per rule + `reasons` array + `keep`.

    Expects `lang` and `ppl` columns to be present (signals stage).
    """
    cols = rule_columns(spec)
    if "r_duplicate_turn" not in df.columns:
        # not precomputed upstream (pipeline.build_decisions places the lag
        # window before the signal UDFs) — add it here
        cols["duplicate_turn"] = duplicate_turn_col(spec)
    flagged = df.withColumns(
        {
            f"r_{name}": F.coalesce(c, F.lit(False))
            for name, c in cols.items()
            if f"r_{name}" not in df.columns  # keep upstream-computed flags
        }
    )

    reasons = F.array_compact(
        F.array(
            *[
                F.when(F.col(f"r_{name}"), F.lit(name))
                for name in spec.reason_order
            ]
        )
    )
    return flagged.withColumns(
        {
            "reasons": reasons,
            "keep": F.size(reasons) == 0,
        }
    )
