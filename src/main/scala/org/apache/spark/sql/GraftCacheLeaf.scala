package org.apache.spark.sql

/** A cached frame's cache entry as a frame of its own: a leaf plan.
  *
  * A frame built on a cached Dataset keeps that Dataset's whole lineage
  * in its plan, so every later plan over it re-analyzes the lineage,
  * every later `persist` re-plans it and every cache lookup
  * canonicalizes it, although the optimizer stops at the cache anyway.
  * The frame returned here plans as the entry's `InMemoryRelation` with
  * the cached frame's own output attributes: the substitution
  * `CacheManager.useCachedData` makes before optimizing, so plans and
  * results are the cached frame's. `Dataset.ofRows` is package-private in
  * Spark, hence this object lives in Spark's package, like
  * [[GraftCloneSession]].
  *
  * Release the entry through the cached frame, not the leaf: `unpersist`
  * matches an entry by its full plan. */
object GraftCacheLeaf {
  def apply(cached: DataFrame): DataFrame = {
    val ds = cached.asInstanceOf[classic.Dataset[Row]]
    val entry = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).getOrElse(
      throw new IllegalStateException(s"frame is not cached:\n${ds.logicalPlan}"))
    classic.Dataset.ofRows(ds.sparkSession,
      entry.cachedRepresentation.withOutput(ds.logicalPlan.output))
  }
}
