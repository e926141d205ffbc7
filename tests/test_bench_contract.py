"""bench.py contract smoke: the driver runs it once per round, so a
broken import or a HEADLINE name that fell out of the registry would
break its one JSON line. Pin the pieces cheaply (no timed passes,
sf0.001 forcing)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_headline_names_are_registered():
    reg = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in reg]
    assert not missing, missing


def test_headline_and_extras_execute(spark):
    reg = entrymod.queries()
    for name in bench.HEADLINE:
        bench.force(reg[name](spark, SF))

