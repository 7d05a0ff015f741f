"""Graph helpers: the canonical undirected view of an edge list."""

from bloomine_spark.operators.graphmining import undirected_edges


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in pairs], ["src", "dst"]
    )


def test_undirected_edges_canonical(spark):
    und = undirected_edges(_edges(spark, [(2, 1), (1, 2), (3, 3), (1, 3)]))
    got = {(r["a"], r["b"]) for r in und.collect()}
    assert got == {("n1", "n2"), ("n1", "n3")}
