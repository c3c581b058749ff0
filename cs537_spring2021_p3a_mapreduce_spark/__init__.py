"""PySpark-native analytics engine with the query/data-processing
capabilities of Anson-Doan/CS537-Spring2021-P3a-MapReduce.

The reference is a pthreads shared-memory MapReduce library in C
(mapreduce.c:141-253); this package re-expresses its semantics —
and the mandated relational + LLM-data-pipeline extensions — as
idiomatic Spark DataFrame plans so Catalyst/Tungsten pick the
physical strategy. Nothing here is a port of the C engine.

Layout:
    session      tuned SparkSession builder (AQE, UTC, Arrow)
    catalog      table loading for the /root/testdata parquet layout
    functions/   reusable column expressions (tokenize, token windows,
                 djb2, cosine)
    operators/   query library: mapreduce_core, relational, llm
    mr/          reference-API compatibility layer (MR_Run contract)
    streaming/   Structured Streaming forms of the event-time queries
"""

__version__ = "0.1.0"
