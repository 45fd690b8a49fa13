"""UDFs the benchmark ships to Spark's Python workers. They import nothing,
so a worker's start-up cost for them is the bare pyspark worker's."""


def identity(batches):
    """mapInArrow body that returns its input: the Arrow round trip alone."""
    yield from batches

