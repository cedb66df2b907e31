# Training-data pipeline operators: cleaning, PII, sampling, sequence
# packing.  All column expressions are JVM-side and hash with md5
# (portable: identical in Spark, DuckDB, and Python), so every operator
# has an exact cross-engine oracle.
