"""Loaded at start-up by every Python process whose ``PYTHONPATH`` names
this directory: the traced session puts it there for Spark's Python workers
and its streaming source runner. Only acts when ``PERFBENCH_SPANS`` names
the span directory."""

import os

if os.environ.get("PERFBENCH_SPANS"):
    import pbtrace

    pbtrace.install()
