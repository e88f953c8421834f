"""Repository benchmark: closed-loop `map` (load, viewer trace, append
stream) and `curation` (LLM-pipeline and graph queries) workloads over the
arrow_supercluster_spark engine, with an optional traced run that charges
Spark work to the package's layers. Entry point: perfbench/run.py."""
