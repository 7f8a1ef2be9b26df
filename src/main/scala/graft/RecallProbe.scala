package graft

import org.apache.spark.sql.functions._

/** Diagnostic main that prices the three recall CONTRACTS at a chosen
  * scale — how a user answers "will my recall setting survive my n?"
  * BEFORE wiring a generator into downstream analytics:
  *
  *   runMain graft.RecallProbe [mode] <sfDir> [args...]
  *
  *   mode knn     <sfDir> [threshold] [k] [minHeadRecall]
  *     the kNN-graph head-recall contract
  *     ([[graft.ops.SimilarityOps.knnGraphAtHeadRecall]]) — arcs (a
  *     below-contract default reading auto-ESCALATES to the frontier-
  *     solved table count and re-measures, r15) or the named raise
  *     when even the solved count cannot reach the contract
  *   mode lsh     <sfDir> [cosThreshold] [targetRecall] [maxTables]
  *     the auto-L pair generator
  *     ([[graft.ops.SimilarityOps.nearDupPairsLshAtRecall]]) — the
  *     achieved-recall card or the named UNREACHABLE raise with the
  *     geometry's needed table count; maxTables above 32 opts into
  *     the wide hyperplane pool (up to 64)
  *   mode minhash <sfDir> [jaccardThreshold] [targetRecall]
  *     the band-axis twin ([[graft.ops.DedupOps.minhashPairsAtRecall]])
  *     — same card shape on the MinHash axis
  *   mode ivf     <sfDir> [targetRecall] [maxProbe]
  *     the nprobe axis ([[graft.ops.SimilarityOps.ivfTopKAtRecall]]) —
  *     the measured frontier and the solved nprobe, or the named raise
  *     with the guaranteed closer
  *   mode cross   <sfDir> [cosThreshold] [batchSize]
  *     the frozen-index probe economics: build + persist the
  *     even-half index artifact pair
  *     ([[graft.ops.SimilarityOps.lshIndexEntriesSlim]] +
  *     [[graft.ops.SimilarityOps.lshIndexVectors]]), report its
  *     on-disk bytes, then time a fixed-size batch probe
  *     ([[graft.ops.SimilarityOps.nearDupPairsLshCrossSlim]]) — run at
  *     two sf dirs to see the probe wall stay ~flat while the index
  *     grows 10×, and the artifact stay ~corpus-sized
  *
  * A bare first argument containing a `/` is an sf dir and keeps the
  * original knn-probe calling convention; any other first argument
  * that is not a mode fails by name. The round-12 PLANS demonstrations:
  * knn 0.9 passes at sf0.01 (head recall ≈ 0.99) and fails by name at
  * ×10; lsh 0.99 escalates 8→16 tables at sf0.01 and raises UNREACHABLE
  * (needed L ≈ 74 > the 32 ceiling) at ×10; minhash solves the SAME
  * band count at both scales — band recall is a function of the pair's
  * Jaccard alone, so that decision transfers across n.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val modes = Seq("knn", "lsh", "minhash", "ivf", "cross")
    val (mode, rest) =
      if (args.nonEmpty && modes.contains(args.head)) (args.head, args.tail)
      else {
        require(args.isEmpty || args.head.contains("/"),
          s"unknown mode '${args.head}': expected one of " +
            s"${modes.mkString(", ")}, or an sf dir path")
        ("knn", args)
      }
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    def emb = ops.SimilarityOps.withNorm(
      etl.Ingest.table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
    val t0 = System.nanoTime()
    def secs = f"${(System.nanoTime() - t0) / 1e9}%.2f s"
    try {
      mode match {
        case "knn" =>
          val threshold = rest.lift(1).map(_.toDouble).getOrElse(0.25)
          val k = rest.lift(2).map(_.toInt).getOrElse(8)
          val contract = rest.lift(3).map(_.toDouble).getOrElse(0.9)
          val arcs = ops.SimilarityOps.knnGraphAtHeadRecall(
            emb, threshold, k, contract, calibQueries = 20)
          println(s"[recall-probe] knn CONTRACT MET at $dir " +
            s"(threshold=$threshold, k=$k, min=$contract): " +
            s"${arcs.count()} arcs in $secs")
        case "lsh" =>
          val threshold = rest.lift(1).map(_.toDouble).getOrElse(0.3)
          val target = rest.lift(2).map(_.toDouble).getOrElse(0.99)
          val maxT = rest.lift(3).map(_.toInt)
            .getOrElse(ops.SimilarityOps.LshAutoMaxTables)
          val r = ops.SimilarityOps.nearDupPairsLshAtRecall(
            emb, threshold, target, calibQueries = 20, maxTables = maxT)
          println(s"[recall-probe] lsh SOLVED at $dir " +
            s"(threshold=$threshold, target=$target, maxTables=$maxT): calib " +
            s"${r.calibRecallMicro / 1e6} @ ${r.calibTables} tables -> " +
            s"L=${r.tables}, achieved ${r.achievedRecallMicro / 1e6} " +
            s"(${r.pairs.count()} pairs, n_true=${r.nTrue}) in $secs")
        case "ivf" =>
          val target = rest.lift(1).map(_.toDouble).getOrElse(0.95)
          val maxProbe = rest.lift(2).map(_.toInt)
            .getOrElse(queries.PipelineQueries.KmeansK)
          val e = emb
          val cents = ops.SimilarityOps.kmeansCentroids(
            etl.Ingest.table(spark, dir, "embeddings"),
            queries.PipelineQueries.KmeansK,
            queries.PipelineQueries.KmeansIters)
          val r = ops.SimilarityOps.ivfTopKAtRecall(
            e, e.filter(col("vec_id") < queries.PipelineQueries.IvfQueryCount),
            cents, queries.PipelineQueries.IvfK, target, maxProbe)
          println(s"[recall-probe] ivf SOLVED at $dir (target=$target, " +
            s"maxProbe=$maxProbe): frontier " +
            r.recallAtMicro.map(_ / 1e6).mkString("[", ", ", "]") +
            s" -> nprobe=${r.nprobe} (${r.results.count()} rows, " +
            s"n_true=${r.nTrue}) in $secs")
        case "cross" =>
          val threshold = rest.lift(1).map(_.toDouble).getOrElse(0.3)
          val batchSize = rest.lift(2).map(_.toInt).getOrElse(500)
          val e = emb
          val existing = e.filter(pmod(col("vec_id"), lit(2)) === 0)
          // a fixed-size batch: the first batchSize odd vec_ids — the
          // same batch rows whatever the corpus size, so the probe wall
          // isolates the INDEX-side term
          val batch = e.filter(pmod(col("vec_id"), lit(2)) === 1)
            .filter(col("vec_id") < 2L * batchSize)
          def dirBytes(p: String): Long = {
            val d = new java.io.File(p)
            // listFiles() returns null (not empty) on IO/permission
            // errors — report 0 instead of NPE-ing the probe's summary
            val fs = if (d.exists()) d.listFiles() else null
            if (fs == null) 0L
            else fs.map(f =>
              if (f.isDirectory) dirBytes(f.getPath) else f.length()).sum
          }
          val tmp = java.nio.file.Files
            .createTempDirectory("graft-cross-probe").toString
          // id-sized entries + single-copy vector table
          val tb = System.nanoTime()
          ops.SimilarityOps.lshIndexEntriesSlim(existing)
            .write.mode("overwrite").parquet(s"$tmp/entries.parquet")
          ops.SimilarityOps.lshIndexVectors(existing)
            .write.mode("overwrite").parquet(s"$tmp/vectors.parquet")
          val entries = spark.read.parquet(s"$tmp/entries.parquet")
          val vecs = spark.read.parquet(s"$tmp/vectors.parquet")
          val nIdx = entries.count()
          val buildS = (System.nanoTime() - tb) / 1e9
          val tp = System.nanoTime()
          val nPairs = ops.SimilarityOps.nearDupPairsLshCrossSlim(
            entries, vecs, batch, threshold).count()
          val probeS = (System.nanoTime() - tp) / 1e9
          val bytes = dirBytes(s"$tmp/entries.parquet") +
            dirBytes(s"$tmp/vectors.parquet")
          scala.reflect.io.Path(tmp).deleteRecursively()
          println(f"[recall-probe] cross at $dir (threshold=$threshold, " +
            f"batch<=$batchSize): build+persist $buildS%.2f s " +
            f"($nIdx entries, $bytes bytes), probe $probeS%.2f s " +
            f"($nPairs pairs) in $secs total")
        case "minhash" =>
          val threshold = rest.lift(1).map(_.toDouble).getOrElse(
            queries.PipelineQueries.MinhashRecallJaccard)
          val target = rest.lift(2).map(_.toDouble).getOrElse(
            queries.PipelineQueries.MinhashRecallTarget)
          val r = ops.DedupOps.minhashPairsAtRecall(
            etl.Ingest.table(spark, dir, "documents"), threshold, target,
            queries.PipelineQueries.MinhashQueryCount)
          println(s"[recall-probe] minhash SOLVED at $dir " +
            s"(jaccard=$threshold, target=$target): calib " +
            s"${r.calibRecallMicro / 1e6} @ ${r.calibBands} bands -> " +
            s"b=${r.bands}, achieved ${r.achievedRecallMicro / 1e6} " +
            s"(${r.pairs.count()} pairs, n_true=${r.nTrue}) in $secs")
      }
    } catch {
      case e: IllegalArgumentException =>
        println(s"[recall-probe] $mode CONTRACT RAISED at $dir " +
          s"in $secs: ${e.getMessage}")
    }
    spark.stop()
  }
}
