"""The in-memory cache of per-corpus substrates.

A substrate is derived data that is a pure function of one corpus
version (one sf_dir): ANN index handles, BM25/TF-IDF stats, graph edge
sets, centroid tables. Several consumers, and repeated runs of the same
query, re-read it, so it is built once and served many times.

Policy, owned here and nowhere else:

- entries are keyed by name within the current (Spark app, sf_dir,
  store root);
- a new Spark app drops every entry without unpersisting — its storage
  died with the old SparkContext, and unpersisting would throw against
  it;
- a new sf_dir or store root unpersists every DataFrame held and drops
  the entries, so a long session that walks several corpora keeps one
  corpus pinned, not one per corpus, and a moved store root is served
  from stores published under it, not from handles over the old one;
- every DataFrame of an entry is persisted when built and re-marked with
  ``persist()`` on each hit. ``catalog.clearCache()`` (the bench
  isolation step) unregisters cached plans; ``persist()`` is idempotent
  while the plan is still cached, so re-marking restores
  build-once/serve-many after a clear: the first run after it
  re-materializes, later runs serve from memory.

Everything cached is deterministic, so a hit never changes a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .store import store_root

_app = None
_sf_dir = None
_root = None
_entries: dict = {}


def _dataframes(value):
    items = value if isinstance(value, tuple) else (value,)
    return [x for x in items if isinstance(x, DataFrame)]


def cached_substrates(name, spark, sf_dir, build):
    """The substrate `name` of `sf_dir`, built by ``build()`` on a miss.

    ``build`` returns one value or a flat tuple; DataFrames in it are
    persisted at the default level, anything else (driver-side rows,
    lookup tables) is held as is. A ``build`` may itself call this for
    another name on the same sf_dir."""
    global _app, _sf_dir, _root
    app = spark.sparkContext.applicationId
    root = store_root()
    if app != _app:
        _entries.clear()
        _app, _sf_dir, _root = app, sf_dir, root
    elif (sf_dir, root) != (_sf_dir, _root):
        for value in _entries.values():
            for df in _dataframes(value):
                df.unpersist()
        _entries.clear()
        _sf_dir, _root = sf_dir, root
    if name not in _entries:
        _entries[name] = build()
    value = _entries[name]
    for df in _dataframes(value):
        df.persist()
    return value
