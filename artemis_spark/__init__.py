"""artemis_spark — a PySpark-native batch-iterative URL-frontier crawl
scheduler with the capabilities of athena-project/Artemis, rebuilt
Spark-first (NOT a port).

The reference (/root/reference) is a pure-Python decentralized crawler:
slaves fetch, masters dedup/validate per keyspace shard, monitors
rebalance.  Here the same dataflow is a driver round-loop where each
crawl round is one Catalyst DAG over DataFrames:

    frontier candidates
      -> canonicalize            (functions.urls)
      -> policy filters          (operators.robots / rules)
      -> bloom pre-filter        (operators.bloom, shard-local probe)
      -> exact anti-join dedup   (operators.dedup vs url_seen state)
      -> score + politeness topk (operators.politeness)
      -> salted fetch wave       (sources.fetch, synthetic in-sandbox)
      -> decode/validate payloads(functions.images, pandas UDFs)
      -> extract outlinks        (functions.markup over the page bytes)
      -> MERGE url_seen, append crawl_log/metrics (sources.state)

See SURVEY.md for the operator-by-operator mapping with reference
file:line citations.
"""

__version__ = "0.1.0"
