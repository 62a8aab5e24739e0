"""Spark pandas-UDF wrappers for the model signals.

One Arrow batch in → one numpy-vectorized pass → one batch out. The scorer
state (stopword regexes, bigram log-prob table) is module-level, i.e. built
once per executor Python worker — the same lifecycle a real fastText /
KenLM model file would have (lazy per-executor load), per SURVEY.md §2.10.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

_PROCESS_TYPE = StructType(
    [
        StructField("lang", StringType()),
        StructField("ppl", DoubleType()),
        StructField("n_tok", LongType()),
        StructField("rep_ratio", DoubleType()),
        StructField("text_scrubbed", StringType()),
    ]
)

_PROCESS_UDF_CACHE: dict[object, object] = {}


def make_process_udf(spec):
    """The whole python side of the pipeline in ONE Arrow crossing:
    signals + conditional scrub.

    ``jvm_drop`` carries the disjunction of the JVM-evaluated rules
    (role/empty/too-long/tool-json/duplicate-turn); the python side adds its
    own three (non-english / high-perplexity / repetition, from the exact
    values it just computed with the same spec thresholds the JVM reasons
    use), and scrubs ONLY rows that survive — Spark's UDF extraction would
    otherwise evaluate a CASE-guarded scrub UDF on every row. Scrubbed text
    for dropped rows is NULL, which also shrinks the Arrow return payload.

    DELTA-ENCODING CONTRACT: the returned struct is NOT self-contained.
    ``text_scrubbed`` is NULL both for dropped rows AND for kept rows the
    scrub left byte-identical; every consumer MUST restore kept rows with
    ``coalesce(text_scrubbed, text)`` (what ``pipeline.build_decisions``
    does) before treating the column as the scrubbed text. Reading the
    struct column directly without that coalesce silently yields NULLs on
    clean kept rows.
    """
    if spec in _PROCESS_UDF_CACHE:
        return _PROCESS_UDF_CACHE[spec]

    from piperider_spark.scrub.rules import scrub_series

    keep_langs = list(spec.langid_keep)
    ppl_min_chars, ppl_max = spec.ppl_min_chars, spec.ppl_max
    rep_min_tokens, rep_max_ratio = spec.rep_min_tokens, spec.rep_max_ratio

    @pandas_udf(_PROCESS_TYPE)
    def process_udf(texts: pd.Series, jvm_drop: pd.Series) -> pd.DataFrame:
        from piperider_spark.signals.core import text_signals_and_ppl_batch

        sig = text_signals_and_ppl_batch(texts)
        lang, n_tok, rep = sig["lang"], sig["n_tok"], sig["rep_ratio"]
        ppl = sig["ppl"]
        text_len = texts.str.len().fillna(0).to_numpy()
        py_drop = (
            (~lang.isin(keep_langs)).to_numpy()
            | ((text_len >= ppl_min_chars) & (ppl.to_numpy() > ppl_max))
            | ((n_tok >= rep_min_tokens) & (rep > rep_max_ratio))
        )
        keep = ~(jvm_drop.fillna(True).astype(bool).to_numpy() | py_drop)
        masked = texts.where(pd.Series(keep, index=texts.index))
        scrubbed = scrub_series(masked)
        # Delta-encode the return payload: rows the scrub left byte-identical
        # (the overwhelming majority at real PII densities) go back as NULL
        # and the JVM coalesces them to the original text column
        # (pipeline.build_decisions) — the Arrow return transfer shrinks to
        # the changed rows. Byte-exactness is untouched: coalesce(NULL,
        # text) == scrub(text) precisely when scrub changed nothing.
        scrubbed = scrubbed.where(~(scrubbed.notna() & (scrubbed == masked)))
        return pd.DataFrame(
            {
                "lang": lang,
                "ppl": ppl,
                "n_tok": n_tok,
                "rep_ratio": rep,
                "text_scrubbed": scrubbed,
            }
        )

    _PROCESS_UDF_CACHE[spec] = process_udf
    return process_udf
