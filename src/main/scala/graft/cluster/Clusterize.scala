package graft.cluster

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The clustering operator: incremental connected components with cluster
  * identity, re-expressing the reference's record↔match-value graph semantics
  * (Storage.java:299-522, SURVEY.md §2.9) as set-based Spark jobs.
  *
  * Semantics preserved from the reference (MainVerticleTest.java:1404-1567):
  *   - clusters MERGE when a record's keys connect them; the survivor is the
  *     deterministic min clusterId (the reference picks "first found" —
  *     observable tests never pin which uuid survives);
  *   - a record whose new keys match no existing value MOVES to a fresh
  *     cluster; removed values are never garbage-collected, so components
  *     never split retroactively;
  *   - a merged-away or emptied cluster keeps its meta row as a touched
  *     tombstone (served as OAI status=deleted);
  *   - match values are truncated to 600 chars (Storage.java:62,356-358);
  *   - records with zero keys each get a solo cluster
  *     (MainVerticleTest.java:1679-1758).
  *
  * Scale design: batch work is proportional to (batch edges + touched
  * clusters), not table size — the probe into `values` broadcasts the small
  * batch side over a scan of the values table (no shuffle), and the
  * fixpoint loop runs on the batch's local graph only. Label propagation cuts
  * lineage each round — localCheckpoint by default, reliable checkpoint(dir)
  * when `spark.graft.checkpointDir` is set (required on a real cluster).
  */
object Clusterize {

  val MatchValueMaxLength = 600

  /** Cut lineage between CC rounds. Default is `localCheckpoint` (executor
    * blocks — fine in local mode and fastest); setting the Spark conf
    * `spark.graft.checkpointDir` switches to reliable `checkpoint` into that
    * directory, which a real cluster needs: with localCheckpoint, losing one
    * executor discards blocks the loop can no longer recompute (lineage was
    * cut), killing the job.
    */
  private def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(true)
    }
  }

  /** Connected components over a bipartite (id, key) edge set by alternating
    * min-label propagation with pointer jumping: each round also treats the
    * current labels as super-keys, so nodes already proven co-labeled
    * exchange labels directly — convergence in O(log diameter) rounds
    * instead of O(diameter) (a chain of 1000 pairwise-linked records needs
    * ~10 rounds, not 1000). Each round is two shuffles keyed the same way
    * (AQE coalesces partitions). Returns (id, component = min id).
    *
    * Degree-1 keys are dropped before the loop: a key held by a single id
    * connects nothing, and in the LSH/match-value workloads that feed this
    * operator the vast majority of keys are unshared — on a mostly-unique
    * 100 TB corpus the iterated frames shrink from O(ids × keys) to O(ids
    * that actually collide). Ids left with no shared key are their own
    * component and rejoin at the end (one broadcast-sized left join).
    */
  def connectedComponents(edges: DataFrame,
      edgesDistinct: Boolean = false): DataFrame = {
    require(edges.columns.toSeq == Seq("id", "key"),
      s"expected (id, key) edges, got ${edges.columns.mkString(",")}")
    // r17 optimization round: (a) `edgesDistinct = true` lets a caller
    // whose edges are distinct BY CONSTRUCTION (the LSH band frames: one
    // band-index-prefixed key per (doc, band)) skip a full exchange of the
    // edge frame — guide §2.4's "distinct on data that is already unique"
    // (duplicates would not change the RESULT, only the frame sizes, so
    // the flag is a pure plan choice); (b) e0 is a lazy persist rather
    // than an eager localCheckpoint — its materialization fuses into the
    // first consuming job, and the later readers (allIds, the degree
    // join) still hit the cache until the result is materialized; (c) the
    // degree-cut frame `e` is lineage-cut only on the ITERATIVE path,
    // where the loop needs it — the local path collects it once, so a
    // checkpoint there is a pure extra pass.
    val e0 = (if (edgesDistinct) edges else edges.distinct())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allIds = e0.select(col("id")).distinct()
    val sharedKeys = e0.groupBy("key").agg(count(lit(1)).as("_deg"))
      .filter(col("_deg") >= 2).select(col("key"))
    val e = e0.join(sharedKeys, "key").select(col("id"), col("key"))

    // Size-gated hybrid: after the degree-1 cut the active subgraph of a
    // mostly-unique corpus is a small fraction of the input; when its edge
    // count fits the driver comfortably, a local union-find replaces the
    // whole fixpoint loop (each distributed round costs several jobs of
    // fixed overhead). Past the threshold — the genuinely large-component
    // case — the iterative O(log d) loop below is the scale path.
    // The default is sized for match-value keys up to 600 chars on a 1 GiB
    // driver (~100k edges ≈ tens of MB of collected Rows); raise
    // spark.graft.cc.localMaxEdges only alongside driver memory.
    val localMax = e.sparkSession.conf
      .getOption("spark.graft.cc.localMaxEdges").map(_.toLong)
      .getOrElse(100000L)
    // limit takes an Int: truncation past it would silently drop edges
    require(localMax < Int.MaxValue - 1,
      s"spark.graft.cc.localMaxEdges must be below ${Int.MaxValue - 1}: $localMax")
    // The gate and the local path's collect are ONE bounded job:
    // limit(localMax+1) can never pull more than the gate's own ceiling to
    // the driver, and when the result fits (the common, mostly-unique-
    // corpus case) it IS the edge list — the r16 shape paid a checkpoint
    // materialization of `e` plus a count job plus the collect, three
    // passes where one suffices. Over the ceiling, the truncated collect
    // is discarded (bounded waste) and the iterative path recomputes from
    // the cached e0.
    val bounded = e.limit(localMax.toInt + 1).collect()
    val comps =
      if (bounded.length <= localMax) localComponents(bounded, e)
      else iterativeComponents(cut(e))
    // ids whose every key was unshared never entered the loop: solo
    // components. The result is materialized so that e0 can be released
    // here: a cached frame left behind would outlive the call in the
    // session's cache manager.
    try cut(allIds.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component")))
    finally { e0.unpersist(); () }
  }

  /** the SAME order Spark's min()/least() would use: strings compare as
    * UTF-8 bytes (UTF8String binary order = code-point order, NOT Java
    * String's UTF-16 code-unit order, which flips supplementary chars vs
    * U+E000..U+FFFF), everything else by natural Comparable order
    */
  private def sparkOrderCompare(x: Any, y: Any): Int = (x, y) match {
    case (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** driver-side union-find over a collected (id, key) edge list; min id per
    * component by the id column's own ordering (matches the distributed
    * path). `e` supplies only the session and the id field's schema.
    */
  private def localComponents(rows: Array[org.apache.spark.sql.Row],
      e: DataFrame): DataFrame = {
    import scala.collection.mutable
    val idIdx = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    val parent = mutable.ArrayBuffer.empty[Int]
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    val keyFirst = mutable.HashMap.empty[Any, Int]
    rows.foreach { r =>
      val i = idIdx.getOrElseUpdate(r.get(0), {
        ids += r.get(0); parent += ids.length - 1; ids.length - 1
      })
      keyFirst.get(r.get(1)) match {
        case Some(j) =>
          val (ri, rj) = (find(i), find(j))
          if (ri != rj) parent(ri) = rj
        case None => keyFirst.update(r.get(1), i)
      }
    }
    val minOf = mutable.HashMap.empty[Int, Any]
    ids.indices.foreach { i =>
      val root = find(i)
      val v = ids(i)
      minOf.get(root) match {
        case Some(m) if sparkOrderCompare(m, v) <= 0 => ()
        case _ => minOf.update(root, v)
      }
    }
    val idField = e.schema("id")
    val out = ids.indices.map(i =>
      org.apache.spark.sql.Row(ids(i), minOf(find(i))))
    e.sparkSession.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        idField.copy(name = "id"),
        idField.copy(name = "component"))))
  }

  /** the distributed fixpoint loop (min-label propagation + pointer jumping) */
  private def iterativeComponents(e: DataFrame): DataFrame = {
    var labels = cut(e.select(col("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    while (!converged) {
      // hop 1: propagate the min label across the bipartite edges
      val keyMin = e.join(labels, "id")
        .groupBy("key").agg(min("label").as("klabel"))
      val idMin = e.join(keyMin, "key")
        .groupBy("id").agg(min("klabel").as("nlabel"))
      val hop = labels.join(idMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // hop 2: pointer doubling — follow the label chain (labels are node
      // ids, so label(label(x)) halves the distance to the component min
      // each round → O(log diameter) convergence on chain-shaped components.
      // The pre-round label rides along as `prev`, so the convergence check
      // below is a scan over the checkpointed frame — no join, no shuffle.
      val parents = hop.select(col("id").as("lid"), col("label").as("llabel"))
      val withPrev = cut(hop.as("a")
        .join(parents, col("a.label") === col("lid"), "left")
        .select(col("a.id").as("id"), col("a.prev").as("prev"),
          least(col("a.label"), coalesce(col("llabel"), col("a.label"))).as("label")))
      val changed = withPrev
        .filter(col("label") =!= col("prev")).limit(1).count()
      labels = withPrev.select(col("id"), col("label"))
      converged = changed == 0
    }
    labels.withColumnRenamed("label", "component")
  }

  /** The value probe, shaped so the big `values` table is never shuffled: a
    * LEFT join against `values` directly could only broadcast the values side
    * (LeftOuter builds right), so the planner would sort-merge BOTH sides at
    * scale. Instead: (1) inner-join values with the broadcast batch value set
    * — values is streamed once, build side is the batch; (2) left-join the
    * batch edges with the broadcast matched subset (≤ batch values rows).
    * Batch-proportional exchange, one O(values) scan, no values shuffle.
    */
  def probeValues(values: DataFrame, batchEdges: DataFrame): DataFrame = {
    val batchValues = batchEdges.select(col("value")).distinct()
    val matched = values.join(broadcast(batchValues), Seq("value"))
      .select(col("value"), col("clusterId"))
    batchEdges.join(broadcast(matched), Seq("value"), "left")
      .select(col("recordId"), col("value"), col("clusterId"))
  }

  /** normalize a key array: truncate to 600 chars, dedup (Storage.java:353-361) */
  def normalizeKeys(keys: Column): Column =
    array_distinct(transform(keys, k => substring(k, 1, MatchValueMaxLength)))

  private val newClusterUuid = udf((seed: String) =>
    UUID.nameUUIDFromBytes(("graft-cluster:" + seed).getBytes("UTF-8")).toString)

  /** One incremental clustering step for one pool.
    *
    * @param state current (meta, assignments, values) tables
    * @param batch (recordId: String, keys: Array[String]) — upserted records
    *              with their freshly-evaluated match keys
    * @param matchKeyId the pool id
    * @param now the ingest timestamp for touched datestamps (also salts new
    *            cluster uuids so re-moves mint fresh identities)
    * @return next state
    */
  def ingestBatch(state: ClusterState, batch: DataFrame, matchKeyId: String,
      now: java.sql.Timestamp): ClusterState = {
    val keyed = batch.select(col("recordId"),
      normalizeKeys(col("keys")).as("keys")).localCheckpoint(true)
    val seedPrefix = s"$matchKeyId:${now.getTime}:"

    // the J5 probe (Storage.java:363-401): which batch values already have an
    // owning cluster
    val batchEdges = keyed.select(col("recordId"), explode(col("keys")).as("value"))
    val probed = probeValues(state.values, batchEdges).localCheckpoint(true)

    // bipartite CC where a matched value contributes its owning cluster as
    // the key (so records sharing a value OR a cluster land in one component)
    val edges = probed.select(col("recordId").as("id"),
      when(col("clusterId").isNotNull, concat(lit("c:"), col("clusterId")))
        .otherwise(concat(lit("v:"), col("value"))).as("key"))
    val comps = connectedComponents(edges)
      .withColumnRenamed("id", "recordId")

    // survivor per component: min existing clusterId if any, else a fresh
    // deterministic uuid from the component representative
    val existingInComp = comps
      .join(probed.filter(col("clusterId").isNotNull), "recordId")
      .select(col("component"), col("clusterId")).distinct()
    val compCluster = comps.select(col("component")).distinct()
      .join(existingInComp.groupBy("component")
        .agg(min("clusterId").as("existing")), Seq("component"), "left")
      .withColumn("clusterId", coalesce(col("existing"),
        newClusterUuid(concat(lit(seedPrefix), col("component")))))
      .select(col("component"), col("clusterId"))
      .localCheckpoint(true)

    // batch assignments; zero-key records get solo fresh clusters
    val assignment = comps.join(compCluster, "component")
      .select(col("recordId"), col("clusterId"))
    val soloAssignment = keyed.filter(size(col("keys")) === 0)
      .select(col("recordId"),
        newClusterUuid(concat(lit(seedPrefix + "solo:"), col("recordId")))
          .as("clusterId"))
    val newAssignments = assignment.unionByName(soloAssignment)
      .localCheckpoint(true)

    // merge map: existing clusters absorbed into a different survivor
    // (Storage.java:432-439,505-522)
    val mergedMap = existingInComp
      .withColumnRenamed("clusterId", "absorbed")
      .join(compCluster, "component")
      .filter(col("absorbed") =!= col("clusterId"))
      .select(col("absorbed"), col("clusterId").as("survivor"))
      .distinct().localCheckpoint(true)

    def repoint(df: DataFrame): DataFrame =
      df.join(mergedMap, df("clusterId") === mergedMap("absorbed"), "left")
        .withColumn("cid", coalesce(col("survivor"), col("clusterId")))
        .drop("clusterId", "absorbed", "survivor")
        .withColumnRenamed("cid", "clusterId")

    // new values, owned by their component's survivor (Storage.java:451-477);
    // existing values keep their owner (modulo merge repointing) — values are
    // never garbage-collected
    val valueOwner = probed.filter(col("clusterId").isNull)
      .select(col("recordId"), col("value"))
      .join(newAssignments, "recordId")
      .groupBy("value").agg(min("clusterId").as("clusterId"))
    val nextValues = repoint(state.values)
      .unionByName(valueOwner.select(col("value"), col("clusterId")))

    // assignments: batch rows replace their previous assignment (upsert,
    // Storage.java:441-447); untouched rows follow merges
    val nextAssignments = repoint(state.assignments)
      .join(newAssignments.select(col("recordId")), Seq("recordId"), "left_anti")
      .unionByName(newAssignments)

    // touched: clusters gaining records, both sides of each merge, and the
    // previous clusters of moved batch records
    val previousOf = state.assignments
      .join(keyed.select(col("recordId")), "recordId")
      .select(col("clusterId"))
    val touched = newAssignments.select(col("clusterId"))
      .union(mergedMap.select(col("survivor")))
      .union(mergedMap.select(col("absorbed")))
      .union(previousOf)
      .distinct()

    // meta: tombstones persist; touched clusters get datestamp = now
    val allIds = state.meta.select(col("clusterId"))
      .union(newAssignments.select(col("clusterId"))).distinct()
    val nextMeta = allIds
      .join(state.meta, Seq("clusterId"), "left")
      .join(touched.withColumn("t", lit(true)), Seq("clusterId"), "left")
      .withColumn("datestamp", when(col("t"), lit(now)).otherwise(col("datestamp")))
      .select(col("clusterId"), col("datestamp"))

    ClusterState(nextMeta, nextAssignments, nextValues)
  }

  /** Delete records: drop their assignments, touch their clusters (which
    * remain as tombstones — Storage.java:226-240, ClusterRecordStream.java:77-79).
    */
  def deleteRecords(state: ClusterState, recordIds: DataFrame,
      now: java.sql.Timestamp): ClusterState = {
    val touched = state.assignments.join(recordIds, "recordId")
      .select(col("clusterId")).distinct()
    val nextAssignments = state.assignments
      .join(recordIds, Seq("recordId"), "left_anti")
    val nextMeta = state.meta
      .join(touched.withColumn("t", lit(true)), Seq("clusterId"), "left")
      .withColumn("datestamp", when(col("t"), lit(now)).otherwise(col("datestamp")))
      .select(col("clusterId"), col("datestamp"))
    ClusterState(nextMeta, nextAssignments, state.values)
  }

  /** Full rebuild from scratch (the `initialize` path, Storage.java:799-879):
    * one batch CC over all records' keys.
    */
  def initialize(batch: DataFrame, matchKeyId: String,
      now: java.sql.Timestamp): ClusterState =
    ingestBatch(ClusterState.empty(batch.sparkSession), batch, matchKeyId, now)

  /** Pool statistics (Storage.java:881-965): per-cluster sizes rolled into
    * per-size histograms with ≤3 sample cluster ids per bucket.
    */
  def stats(state: ClusterState): DataFrame = {
    val recSizes = state.assignments.groupBy("clusterId")
      .agg(count(lit(1)).as("records"))
    val valSizes = state.values.groupBy("clusterId")
      .agg(count(lit(1)).as("values"))
    recSizes.join(valSizes, Seq("clusterId"), "outer")
      .na.fill(0, Seq("records", "values"))
      .groupBy("records", "values")
      .agg(count(lit(1)).as("clusters"),
        slice(sort_array(collect_list(col("clusterId"))), 1, 3).as("sample"))
      .orderBy("records", "values")
  }

  /** Component-size histogram over a (member → component) assignment frame
    * ([[connectedComponents]] output, `Similarity.semDedup` groups, …):
    * (cluster_size, n_clusters) — the dedup data-card signal that sizes
    * the near-dup mass and catches degenerate giant components (a too-lax
    * banding collapses the corpus into one cluster; this is the alarm).
    * Two partial-agg'd exchanges, both AFTER the corpus collapses to one
    * row per member, then one row per component.
    */
  def componentSizeHistogram(cc: DataFrame,
      componentCol: String = "component"): DataFrame =
    cc.groupBy(col(componentCol))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
}

/** The three cluster tables of one match-key pool (Storage.java:159-187). */
final case class ClusterState(
    meta: DataFrame,        // (clusterId, datestamp)
    assignments: DataFrame, // (recordId, clusterId)
    values: DataFrame)      // (value, clusterId)

object ClusterState {
  def empty(spark: org.apache.spark.sql.SparkSession): ClusterState = {
    import org.apache.spark.sql.types._
    def df(schema: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    ClusterState(
      df(StructType(Seq(StructField("clusterId", StringType),
        StructField("datestamp", TimestampType)))),
      df(StructType(Seq(StructField("recordId", StringType),
        StructField("clusterId", StringType)))),
      df(StructType(Seq(StructField("value", StringType),
        StructField("clusterId", StringType)))))
  }
}
