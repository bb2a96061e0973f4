"""The two lifetimes of cached intermediates: per corpus and per call.

Cache policy is owned here and nowhere else: no other module of the
package calls ``persist``, ``cache``, ``localCheckpoint`` or
``unpersist``.

**Per corpus.** A substrate is derived data that is a pure function of
one corpus version (one sf_dir): ANN index handles, BM25/TF-IDF stats,
graph edge sets, centroid tables. Several consumers, and repeated runs
of the same query, re-read it, so it is built once and served many
times (``cached_substrates``):

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

**Per call.** An intermediate that one query reads more than once
within its own plan (a table feeding two branches, a greedy or merge
loop's round state, a store build's training input) is marked with
``per_call`` and lives until the next registered query call. The
dict ``registry.queries()`` returns wraps every query in ``start_call``,
which releases what earlier calls marked; calls are sequential in the
bench, in ``__spark_entry__`` callers and in the tests, so by then the
earlier call's terminal action has run. A query that calls another
registered query's bare function (``pipeline.py``) nests inside its
caller's call.

``per_call(df, barrier=True)`` is the lineage barrier for iterative
loops (connected components): it compiles the round's plan now and
returns a DataFrame rooted at the resulting RDD
(``localCheckpoint(eager=False)``), so the next round plans against a
flat LogicalRDD scan. Without it a round that references its
predecessor twice duplicates the whole upstream lineage per reference,
and the analyzed plan grows exponentially in rounds; ``persist()``
deduplicates execution but not planning. Nothing materializes until an
action, and the checkpoint is storage-backed, so a twice-referenced
round computes once. A barrier that has not materialized keeps its
mark at ``start_call`` (unmarking it would make its later execution
fail localCheckpoint's storage-level assertion) and is released by a
later ``start_call`` once it holds blocks.

NO-RETENTION CONTRACT: consume (collect or write) a query's result
before the next registered call. Re-executing a result retained past
that call either recomputes a released ``per_call`` intermediate, to
identical rows, or — where the lost blocks are a barrier's, which has
no recompute path — fails loudly with Spark's "Checkpoint block ... not
found" error. It never returns different rows. Callers that need a
result to outlive later calls must materialize it first.

Everything cached is deterministic, so a hit never changes a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .store import store_root

_app = None
_sf_dir = None
_root = None
_entries: dict = {}
_marked: list = []  # (DataFrame, checkpoint RDD or None), per call


def _dataframes(value):
    items = value if isinstance(value, tuple) else (value,)
    return [x for x in items if isinstance(x, DataFrame)]


def _same_app(spark) -> bool:
    """Drop both lifetimes' entries, without unpersisting, when `spark`
    is a new Spark app. True if it is the app the entries belong to."""
    global _app, _sf_dir, _root
    app = spark.sparkContext.applicationId
    if app == _app:
        return True
    _entries.clear()
    _marked.clear()
    _app, _sf_dir, _root = app, None, None
    return False


def cached_substrates(name, spark, sf_dir, build):
    """The substrate `name` of `sf_dir`, built by ``build()`` on a miss.

    ``build`` returns one value or a flat tuple; DataFrames in it are
    persisted at the default level, anything else (driver-side rows,
    lookup tables) is held as is. A ``build`` may itself call this for
    another name on the same sf_dir."""
    global _sf_dir, _root
    _same_app(spark)
    root = store_root()
    if (sf_dir, root) != (_sf_dir, _root):
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


def per_call(df: DataFrame, *, barrier: bool = False) -> DataFrame:
    """`df` cached until the next registered call: persisted, or with
    ``barrier`` a lazy local checkpoint (see the module docstring)."""
    _same_app(df.sparkSession)
    if not barrier:
        _marked.append((df.persist(), None))
        return df
    out = df.localCheckpoint(eager=False)
    # unpersisting the checkpoint RDD itself releases its blocks
    _marked.append((out, out._jdf.queryExecution().analyzed().rdd()))
    return out


def start_call(spark) -> None:
    """Enter a registered query call: release what earlier calls
    marked with ``per_call``."""
    if not _same_app(spark) or not _marked:
        return
    held = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    pending = []
    for df, rdd in _marked:
        if rdd is None:
            df.unpersist()
        elif rdd.id() in held:
            rdd.unpersist(False)
        else:
            pending.append((df, rdd))
    _marked[:] = pending
