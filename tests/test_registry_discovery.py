"""registry() finds its query modules itself (pkgutil discovery, no
hand-kept import list). Guard the two ways that can go wrong without
any oracle test noticing: a queries_*.py file that is never imported,
or one that registers nothing, and a duplicate query name -- which
silently drops a query from every {q.name: q} map built over the
registry (bench.py, perfbench/run.py)."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import fraud_detection_in_banking_transactions_using_hadoop_spark as pkg
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import registry


def test_every_query_module_is_imported_and_registers():
    per_module = Counter(q.fn.__module__ for q in registry())
    files = sorted(Path(pkg.__file__).parent.glob("queries_*.py"))
    assert files
    for path in files:
        name = f"{pkg.__name__}.{path.stem}"
        assert name in sys.modules, name
        assert per_module[name] >= 1, name


def test_query_names_are_unique():
    counts = Counter(q.name for q in registry())
    assert [n for n, c in counts.items() if c > 1] == []
