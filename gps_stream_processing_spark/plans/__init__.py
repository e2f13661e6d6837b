"""Query plans: the SURVEY §2 operator inventory as registered
(spark_fn, oracle_sql) pairs. Importing this package populates the
registry that ``__spark_entry__.py`` exposes to the driver."""

import warnings

from gps_stream_processing_spark.plans import (  # noqa: F401
    corpus,
    curation,
    events_analytics,
    graph_queries,
    llm,
    nmea_queries,
    relational,
    scalars,
    streaming_queries,
    tpch,
)
from gps_stream_processing_spark.plans.registry import (  # noqa: F401
    REGISTRY,
    oracle_sql,
    queries,
    register,
)
from gps_stream_processing_spark.streaming.protobuf_compat import tws_available

# The transformWithStateInPandas keys: their Python workers speak
# protobuf to the JVM state server and crash at init without a usable
# runtime. The probe (streaming/protobuf_compat.py) tries the native
# import, then a discovered pure-Python runtime that round-trips the
# pyspark gencode, so the keys stay registered exactly where the API
# can run. Their absence is the only way the key set differs across
# environments, so it is announced, never silent.
TWS_KEYS = tuple(sorted(k for k in REGISTRY if k.startswith("q_stream_tws_")))
if not tws_available():
    for _key in TWS_KEYS:
        del REGISTRY[_key]
    warnings.warn(
        f"{', '.join(TWS_KEYS)} not registered: transformWithStateInPandas "
        "needs google.protobuf, absent in this environment",
        stacklevel=1,
    )
