"""pompspark — a PySpark-native web-crawl frontier + fetch scheduler.

A from-scratch reimplementation of the *capabilities* of the estin/pomp
crawling framework (github.com/estin/pomp) as batch rounds over
Iceberg-style tables, per the north rule in BASELINE.json:

- per-host-partitioned priority frontier (``pompspark.frontier``)
- bloom + cuckoo URL-seen filters over canonical-URL hashes
  (``pompspark.seen``)
- robots.txt + per-host politeness enforcement (``pompspark.robots``,
  ``pompspark.politeness``)
- BFS / DFS / priority crawl ordering trace-equivalent to pomp's queue
  semantics (``pompspark.engine`` vs ``tests/oracle_sim.py``)
- one Arrow-batched extract boundary (``mapInArrow`` over the pinned
  ``ref_extract``) with a byte-identity contract (``pompspark.extract``)
- checkpointed snapshot catalog for exact resume (``pompspark.tables``)

Everything is DataFrame-first: Catalyst plans the physical execution;
Python holds only the driver-side round loop. No per-row Python UDFs —
every Python hop is Arrow-batched (input_hint mandate).

Reference semantics (symbol-level cites, see SURVEY.md §0 for the
citation convention): the crawl loop mirrors ``Pomp.pump``
(pomp/core/engine.py), queue ordering mirrors ``BaseQueue`` LIFO/FIFO
(pomp/core/base.py), middleware/pipeline chains mirror
``BaseMiddleware``/``BasePipeline`` (pomp/core/base.py) — re-expressed
as ordered lists of DataFrame transforms.
"""

__version__ = "0.1.0"

from pompspark.canon import canonicalize, canonicalize_series  # noqa: F401
from pompspark.extract import ref_extract  # noqa: F401
