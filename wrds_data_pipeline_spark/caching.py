"""Persisted intermediates and lineage waists.

Two idioms, each written once here:

**Persist with one release path.**  Several operators
(``near_dup_pairs``, ``minhash_lsh_candidates``, ``jaccard_pairs``,
``curate``) read an intermediate relation more than once — the
shingle table, the LSH band table — and an un-persisted second read
replays the expensive tokenize+md5 subtree.  A bare ``df.persist()``
with no matching ``unpersist`` leaks executor cache in a long-lived
session, so every persist goes through a ``PersistScope``:

- **Caller-owned** (a service/session that calls operators many
  times): pass a scope in; the operator registers every persisted
  intermediate on it and returns a fully LAZY result.  The caller
  releases the scope (context manager or ``release()``) once the
  results are consumed::

      with PersistScope() as scope:
          pairs = near_dup_pairs(docs, scope=scope)
          pairs.write.parquet(out)
      # all intermediate caches freed here

- **Self-managed default** (``scope=None``): the operator persists
  into a private scope, eagerly materializes its (small,
  pairs-sized) result via ``materialize_release`` and releases the
  intermediates before returning.  After the call the only pinned
  storage is the result itself, which the ContextCleaner frees when
  the caller drops the DataFrame.

**Cut lineage at a waist.**  Deep composed plans (universe, dup-group
and corpus pipelines) stay tractable only because a relation read
more than once is truncated: Catalyst otherwise re-expands its full
upstream per reference at analysis time and re-derives it per action.
``waist(df, scope, eager)`` is the package's only truncation call.
With a scope it persists ``df`` under it first (a repeated invocation
re-reads the cache and the truncation re-materializes from it).  The
truncation kind is the session's, not the caller's: a SparkContext
with a checkpoint dir (``sc.setCheckpointDir`` or
``spark.checkpoint.dir`` — HDFS/S3 on a preemptible cluster) gets
reliable ``checkpoint()``, whose files survive executor loss;
otherwise ``localCheckpoint``, whose unreplicated executor blocks are
fine for local mode and stable clusters.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class PersistScope:
    """Tracks persisted DataFrames and releases them together.

    Re-entrant as a context manager; ``release()`` is idempotent.
    """

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` (Spark's default storage level) and track it
        for release.  A plan that is already cached comes back
        untracked: the CacheManager keeps one entry per plan, which its
        first owner's release frees for every holder, so tracking it
        again would only grow a long-lived scope on each repeat."""
        if df.storageLevel != StorageLevel.NONE:
            return df
        df = df.persist()
        self._dfs.append(df)
        return df

    @property
    def tracked(self) -> int:
        return len(self._dfs)

    def release(self, blocking: bool = True) -> None:
        """Unpersist every tracked DataFrame.  ``blocking=True`` waits
        for the blocks to be dropped (deterministic for tests);
        services freeing caches opportunistically can pass False.

        A stopped session is tolerated (its caches died with it);
        any other unpersist failure re-raises — swallowing it would
        silently reintroduce the leak this class exists to prevent.
        Every tracked DataFrame is attempted even when one fails (an
        early raise would leave the rest pinned — the partial-leak the
        class exists to close); the first live-session failure is
        re-raised after the sweep completes."""
        dfs, self._dfs = self._dfs, []
        first_failure: Exception | None = None
        for df in dfs:
            try:
                df.unpersist(blocking=blocking)
            except Exception as exc:
                sc = getattr(df.sparkSession, "_sc", None)
                jsc = getattr(sc, "_jsc", None) if sc is not None else None
                if jsc is not None and first_failure is None:
                    first_failure = exc  # session alive: a real failure
        if first_failure is not None:
            raise first_failure

    def __enter__(self) -> "PersistScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def waist(
    df: DataFrame, scope: PersistScope | None = None, eager: bool = False
) -> DataFrame:
    """``df`` with its lineage truncated (see the module docstring for
    the local-vs-reliable policy).  ``scope`` persists ``df`` under
    the caller's scope first; ``eager`` materializes at call time.

    A reliable waist persists before checkpointing, because the
    checkpoint write otherwise recomputes the lineage.  Without a
    scope nothing could release that persist after a lazy action, so
    an unscoped reliable waist is always eager and drops its persist
    before returning."""
    reliable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    if scope is not None:
        df = scope.persist(df)
    elif reliable:
        with PersistScope() as own:
            return own.persist(df).checkpoint(eager=True)
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize_release(df: DataFrame, scope: PersistScope) -> DataFrame:
    """The self-managed ending: eagerly materialize ``df`` at a waist
    (so the result no longer depends on the scope's caches), then
    release the scope.  Skips the waist when the scope tracked nothing:
    either the plan read no cache, or every cache it read belongs to
    another owner (``PersistScope.persist`` returns an already-cached
    plan untracked).  In the second case the result stays lazy on that
    owner's cache; it is still correct after the owner releases, but
    then recomputes from lineage."""
    if scope.tracked == 0:
        return df
    out = waist(df, eager=True)
    scope.release()
    return out
