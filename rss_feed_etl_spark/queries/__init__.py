"""Registered driver-contract queries, one module per operator family.

Each module places a query by the first ``operators/``, ``plans/``,
``streaming/`` or ``functions/`` module its ``_q_`` function calls; queries
that call none of them live in ``sql``.  ``corpus`` keeps the corpus
queries and the shared SQL fragments the other families import.

The families load in the order their first query was registered, after
the base queries of ``driver_queries``.  A family whose oracles embed
another family's oracle text (``ORACLES[...]`` read at import time) loads
after that family: ``textstats`` before ``sql`` and ``dedup``.
"""

from . import (
    corpus,
    joins,
    multimodal,
    similarity,
    functions,
    textstats,
    sql,
    dedup,
    sketches,
    sampling,
    retrieval,
    timeseries,
    clustering,
    packing,
    eventanalytics,
    decision_support,
    graph,
    merges,
    profiling,
    linalg,
    layout,
    features,
)
