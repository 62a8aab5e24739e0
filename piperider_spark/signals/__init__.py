from piperider_spark.signals.core import detect_lang_batch, perplexity_batch  # noqa: F401
