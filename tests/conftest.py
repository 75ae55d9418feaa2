"""Test-session settings shared by every module.

All Spark tests share one local driver JVM for the whole run.  With the
engine's default 48g driver heap, G1 grows that heap instead of
collecting it, and over the full suite the JVM's resident size reached
the 15 GB of a 4-core test host and was killed by the kernel's OOM
killer, failing every later Spark test.  The test inputs are at most
sf0.01, so a 4g heap is ample; an explicit SPARK_GRAFT_DRIVER_MEM
still wins.
"""

import os

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
