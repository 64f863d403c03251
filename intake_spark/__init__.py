"""intake_spark — a PySpark-native data-description / catalog / pipeline engine.

A from-scratch rebuild of the capabilities of the reference ``intake/intake``
(see SURVEY.md), with Apache Spark as the single execution backend:

- datatypes + format detection  (``intake_spark.datatypes``)
- readers (lazy DataFrame prescriptions)  (``intake_spark.readers``)
- pipelines (serializable step chains)  (``intake_spark.pipeline``)
- catalogs (YAML-persisted entries + user parameters)  (``intake_spark.catalog``)
- declarative dataframe steps (select/filter/join/groupby/...)  (``intake_spark.steps``)
- sinks  (``intake_spark.output``)
- LLM-data-pipeline operators: dedup / similarity / text / multimodal
  (``intake_spark.llm``)

All heavy computation is expressed as lazy Spark DataFrame plans so Catalyst
(predicate pushdown, column pruning, join selection, AQE) does the physical
planning. Nothing here copies reference code; reference file:line citations in
docstrings identify the behavior being re-expressed.
"""

from __future__ import annotations

__version__ = "0.1.0"


def __getattr__(name):
    # Lazy module-level conveniences (mirrors the reference's dynamic
    # ``intake.open_<driver>`` surface, intake/__init__.py:58-93, without
    # importing Spark at package-import time: the worker daemon runs as
    # ``python -m intake_spark.daemon_prewarm`` and must pick where
    # pyspark comes from before anything imports it).
    if name == "get_session":
        from intake_spark.session import get_session

        return get_session
    if name == "cat":
        # out-of-box combo catalog (≡ intake.cat, the lazily-built
        # "builtin" catalog — intake/__init__.py:50 + catalog/default.py):
        # rebuilt on each access so dropped-in files appear without a
        # process restart.
        from intake_spark.default import load_combo_catalog

        return load_combo_catalog()
    if name == "recommend":
        from intake_spark.datatypes import recommend

        return recommend
    if name == "auto_pipeline":
        from intake_spark.convert import auto_pipeline

        return auto_pipeline
    if name == "open_catalog":
        from intake_spark.catalog import open_catalog

        return open_catalog
    if name == "datatypes":
        import intake_spark.datatypes as m

        return m
    if name == "readers":
        import intake_spark.readers as m

        return m
    if name == "Catalog":
        from intake_spark.catalog import Catalog

        return Catalog
    if name == "Pipeline":
        from intake_spark.pipeline import Pipeline

        return Pipeline
    if name == "run_steps":
        from intake_spark.steps import run_steps

        return run_steps
    if name == "one_shot":
        from intake_spark.convert import one_shot

        return one_shot
    if name == "inspect_dataset":
        from intake_spark.inspection import inspect_dataset

        return inspect_dataset
    if name.startswith("open_"):
        # dynamic intake.open_<driver> surface (≡ intake/__init__.py:58-93):
        # open_csv(url, **kw) etc. return the matching lazy reader.
        from intake_spark.v1compat import V1_DRIVERS

        driver = name.removeprefix("open_")
        if driver in V1_DRIVERS:
            dcls, rcls, _ = V1_DRIVERS[driver]

            def opener(url, **kwargs):
                return rcls(data=dcls(url=url), **kwargs)

            opener.__name__ = name
            return opener
    raise AttributeError(name)
