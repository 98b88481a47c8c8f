package graft

import org.apache.spark.sql.SparkSession

/** Single source of truth for the driver contract: every operator from
  * SURVEY.md §2 is authored exactly once as a [[QuerySpec]] in one of the
  * ops modules; `SparkEntry.queries` / `SparkEntry.oracleSql` are derived
  * views of this list.
  */
object Registry {
  lazy val all: Seq[QuerySpec] = Seq(
    ops.Relational.specs,
    ops.Joins.specs,
    ops.Windows.specs,
    ops.Scalars.specs,
    ops.TextSim.specs,
    ops.Sketches.specs,
    ops.Events.specs,
    ops.Udx.specs,
    ops.Clustering.specs,
    ops.Learn.specs,
    ops.Graph.specs,
    ops.SeaSegment.specs
  ).flatten

  /** The stage-cache chains a [[QuerySpec]] `reads`, each named once
    * with the builder that warms its stages; longest first, so a pool
    * running them has only short ones in its tail. */
  lazy val chains: Seq[(String, (SparkSession, String) => Unit)] = {
    import ops._
    Seq(
      "kmeans" -> Clustering.warmKmeansStages _,
      "ivf" -> Sketches.warmIvfStage _,
      "pq" -> Sketches.warmPqStage _,
      "minhash_sigs" -> Sketches.warmMinhashStage _,
      "text_postings" -> TextSim.warmStages _,
      "simhash_sigs" -> Sketches.warmSimhashStage _,
      "minhash_capped" -> Sketches.warmMinhashCappedStage _,
      "dedup_lsh_sigs" -> Sketches.warmDedupLshStage _,
      "lsh_sigs" -> Sketches.warmLshSigStage _,
      "bigrams" -> TextSim.warmBigramStage _,
      "docgrams" -> TextSim.warmDocGramStage _,
      "graph" -> Graph.warmGraphStages _,
      "text_stats" -> TextSim.warmTextStatStages _,
      "learn" -> Learn.warmLearnStages _,
      "mask" -> TextSim.warmMaskStage _,
      ("cms", Sketches.cmsRows(_, _)),
      ("lsh_sample", Sketches.lshSample(_, _)),
      ("csv", Relational.csvStage(_, _)))
  }

  lazy val byName: Map[String, QuerySpec] = {
    val names = all.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(",")}")
    val known = chains.map(_._1).toSet
    val unknown = for (q <- all; r <- q.reads if !known(r)) yield s"${q.name}:$r"
    require(unknown.isEmpty, s"reads naming no chain: ${unknown.mkString(",")}")
    all.map(q => q.name -> q).toMap
  }
}
