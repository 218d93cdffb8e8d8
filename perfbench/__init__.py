"""Link-graph benchmark for pargraph_spark (see README.md)."""
