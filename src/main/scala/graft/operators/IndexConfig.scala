package graft.operators

/** The build-parameter sidecar of a persisted index: one JSON object
  * of integer fields at `<index>/_config`, written by every index
  * build and checked by every probe. */
object IndexConfig {

  /** Build-parameter sidecar location for a persisted index
    * (underscore-prefixed, so Spark's file listing ignores it when
    * the index root itself is read as parquet — the `_tombstones`
    * convention). */
  def indexConfigPath(path: String): String = s"$path/_config"

  /** Persist the build parameters next to an index. An index probed
    * with parameters different from those it was built with computes
    * different band arithmetic / bucket layout and silently returns
    * wrong candidates — so every writer records its config and every
    * probe fails fast on mismatch (ADVICE r11). The sidecar is one JSON
    * object of integer fields, written on the driver. */
  private[graft] def writeIndexConfig(spark: org.apache.spark.sql.SparkSession,
                                      path: String,
                                      params: Seq[(String, Long)]): Unit = {
    val json = params.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    putIndexConfig(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Writes `json` as the `_config` sidecar of the index at `path`: in
    * full to a temp file, then renamed into place, so a reader sees the
    * old sidecar or the new one, never a torn one. */
  private[graft] def putIndexConfig(hfs: org.apache.hadoop.fs.FileSystem,
                                    path: String, json: Array[Byte]): Unit = {
    val fs = unchecksummed(hfs)
    val cfg = new org.apache.hadoop.fs.Path(indexConfigPath(path))
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/._config.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json) finally out.close()
    fs.delete(cfg, true)
    require(fs.rename(tmp, cfg), s"rename $tmp -> $cfg failed")
  }

  /** The `_config` sidecar's bytes, or None for an index written
    * before the sidecar convention. A `_config` directory is the
    * parquet sidecar of an older build: it fails by path, since
    * skipping it would probe unvalidated. */
  private[graft] def indexConfigBytes(hfs: org.apache.hadoop.fs.FileSystem,
                                      path: String): Option[Array[Byte]] = {
    val fs = unchecksummed(hfs)
    val cfg = new org.apache.hadoop.fs.Path(indexConfigPath(path))
    val st = try Some(fs.getFileStatus(cfg)) catch {
      case _: java.io.FileNotFoundException => None
    }
    st.map { s =>
      require(!s.isDirectory, s"$cfg is a directory, the build-parameter " +
        "sidecar of an older build — rebuild the index")
      val in = fs.open(cfg)
      try in.readAllBytes() finally in.close()
    }
  }

  /** The sidecar is read and written without `.crc` companions: a
    * stale checksum left by one writer must not fail a read of what
    * another (e.g. a plain file write) put there. */
  private def unchecksummed(fs: org.apache.hadoop.fs.FileSystem) = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** Fail fast when a probe's parameters disagree with the stored
    * build config. A missing sidecar (index written before the config
    * convention) is tolerated; unknown stored keys are ignored so the
    * config can grow fields without breaking old probes. The sidecar
    * is read on every call: one small file, no Spark job. */
  private[graft] def validateIndexConfig(
      spark: org.apache.spark.sql.SparkSession, path: String,
      expected: Seq[(String, Long)]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    indexConfigBytes(fs, path).foreach { json =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val bad = expected.flatMap { case (k, v) =>
        Option(node.get(k)).map(_.asLong).filter(_ != v)
          .map(sv => s"$k: built=$sv probed=$v") }
      require(bad.isEmpty,
        s"index at $path probed with parameters it was not built with " +
          s"(${bad.mkString(", ")}) — rebuild the index or probe with " +
          "the stored build parameters")
    }
  }
}
