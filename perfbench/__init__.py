"""Product-path benchmark for htmlparser_spark.

Run it from the root of a checkout::

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 6 --trace 0

``run.py`` prints every end-to-end metric (``--trace 0``) or every per-layer
metric (``--trace 1``) as the last line of standard output, in one JSON
object together with the output-check verdict. ``selftest.py`` checks the
benchmark itself: same seed, same work counters; another seed, other
inputs; each output check rejects a corrupted copy of its sink.
"""
