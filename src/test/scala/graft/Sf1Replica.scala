package graft

import org.apache.spark.sql.functions._
import graft.tools.Run

/** Builds the sf1 replica of an sf0.1 testdata directory: documents,
  * embeddings and events replicate 10x with DISTINCT content (every
  * word of a copy carries a copy suffix, vectors perturb per copy,
  * user ids shift per copy), so a query's sf1/sf0.1 ratio measures
  * 10x-more-DATA scaling, not duplicate saturation. The other seven
  * tables are copied verbatim. Scale is then measured with the one
  * timing harness, the same names at both scales:
  *
  *   sbt "Test/runMain graft.Sf1Replica [src] [dst]"
  *   sbt "runMain graft.tools.Run time <src> q1,q2"
  *   sbt "runMain graft.tools.Run time <dst> q1,q2"
  *
  * `src` defaults to /root/testdata/sf0.1 and `dst` to /tmp/sf1rep. An
  * existing replica (dst holds documents.parquet) is not rebuilt. The
  * last measured ratios are recorded in SF1_PROBE.json. */
object Sf1Replica {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1rep")
    val spark = Run.session()
    try {
      if (!new java.io.File(s"$dst/documents.parquet").exists()) {
        println(s"[sf1replica] building $dst (10x $src, distinct content)")
        // PINNED LAYOUT (round-12): hash-partition on the id + sort
        // within partitions, so every rebuild lays out byte-identical
        // parquet — the r11 cross-era band widening for the forest lines
        // traced to a replica rebuild changing file layout (row-group
        // boundaries move scan/shuffle granularity), which made eras
        // incomparable. The md5 manifest below makes any change of the
        // rows, or of which part file holds them in what order, loud
        // instead of silent.
        val docs = spark.read.parquet(s"$src/documents.parquet")
        (0 until 10).map { n =>
          if (n == 0) docs
          else docs.select(
            (col("doc_id") + n * 1000000L).as("doc_id"),
            array_join(transform(split(coalesce(col("text"), lit("")), " "),
              w => concat(w, lit(s"_c$n"))), " ").as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
          .repartition(32, col("doc_id")).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(s"$dst/documents.parquet")
        // perturbation 0.2/dim on unit-norm vectors moves copies to
        // cos ~ 0.6-0.7 from their original: genuinely DISTINCT content
        // (a 0.05 perturbation left every copy a near-dup above tau,
        // which measures duplicate saturation, not data growth)
        val emb = spark.read.parquet(s"$src/embeddings.parquet")
        (0 until 10).map { n =>
          if (n == 0) emb
          else emb.select(
            (col("vec_id") + n * 1000000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (x.cast("double") +
                sin((col("vec_id") + i * 7 + lit(n * 13)).cast("double")) * 0.2)
                .cast("float")).as("embedding"),
            col("label"))
        }.reduce(_ unionByName _)
          .repartition(32, col("vec_id")).sortWithinPartitions("vec_id")
          .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
        // events replicate 10x with DISTINCT users (ids shifted per
        // copy, timestamps kept): 10x the user population and event
        // volume, the growth axis every per-user events operator
        // shuffles on
        val ev = graft.core.Tables.events(spark, src)
        (0 until 10).map { n =>
          if (n == 0) ev
          else ev.select(
            (col("event_id") + n * 10000000L).as("event_id"), col("ts"),
            (col("user_id") + n * 10000000L).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }.reduce(_ unionByName _)
          .repartition(32, col("event_id")).sortWithinPartitions("event_id")
          .write.mode("overwrite").parquet(s"$dst/events.parquet")
        for (t <- Seq("region", "nation", "customer", "supplier", "part",
            "orders", "lineitem"))
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }

      // Row-level manifest over the replicated tables: each table's part
      // files in part-number order, each file's rows in file order,
      // every row as its JSON text. It hashes neither file names (they
      // carry a per-write UUID) nor footer bytes (parquet-mr writes
      // each column's encoding list in a per-JVM order), so two builds
      // of the same rows write the same hash. First build writes it;
      // every later run verifies, so a replica whose ROWS differ from
      // the era being compared against can never masquerade as the same
      // dataset (VERDICT r11 #2 / SURVEY round-12 note).
      val combined = java.security.MessageDigest.getInstance("MD5")
      val partNo = "^part-(\\d+)-".r
      for (t <- Seq("documents", "embeddings", "events")) {
        val files = new java.io.File(s"$dst/$t.parquet").listFiles()
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .sortBy(f => partNo.findFirstMatchIn(f.getName).map(_.group(1).toInt)
            .getOrElse(sys.error(s"unexpected data file name: $f")))
        files.foreach { f =>
          spark.read.parquet(f.toString).select(to_json(struct(col("*"))))
            .toLocalIterator().forEachRemaining { r =>
              combined.update(r.getString(0).getBytes("UTF-8"))
              combined.update('\n'.toByte)
            }
        }
      }
      val hash = combined.digest().map("%02x".format(_)).mkString
      val manifest = java.nio.file.Paths.get(s"$dst/_replica.md5")
      if (java.nio.file.Files.exists(manifest)) {
        val stored = new String(java.nio.file.Files.readAllBytes(manifest),
          "UTF-8").trim
        if (stored == hash)
          println(s"[sf1replica] replica rows verified: $hash")
        else
          println(s"[sf1replica] WARNING replica rows CHANGED: " +
            s"stored=$stored now=$hash — ratios are NOT comparable to " +
            "eras measured on the old rows")
      } else {
        java.nio.file.Files.write(manifest, hash.getBytes("UTF-8"))
        println(s"[sf1replica] replica manifest written: $hash")
      }
    } finally spark.stop()
  }
}
