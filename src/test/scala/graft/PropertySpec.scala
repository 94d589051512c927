package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.{Quantization, Vectors}
import graft.operators.Dedup

/** Property-based invariants executed through the real Spark
  * expressions (batched per property to keep job counts sane). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("quantization round-trip error is bounded by half a grid step") {
    for (bits <- Seq(4, 8, 16)) {
      val xs = Gen.listOfN(200, Gen.chooseNum(-1.2, 1.2)).sample.get
      val errs = Seq(Tuple1(xs)).toDF("v")
        .select(Quantization.reconstructionError(col("v"), bits).as("e"))
        .as[Seq[Double]].head()
      val bound = 1.0 / ((1 << bits) - 1) + 1e-12
      // in-range values: half-step error; clamped values can exceed
      xs.zip(errs).filter { case (x, _) => math.abs(x) <= 1.0 }
        .foreach { case (x, e) => assert(e <= bound, s"x=$x err=$e bits=$bits") }
    }
  }

  test("JVM-local hash64 equals the Spark-side md5 hash64 (plane-parity invariant)") {
    val strs = Gen.listOfN(100, Gen.alphaNumStr.suchThat(_.nonEmpty)).sample.get
    val sparkSide = strs.toDF("s").select(Dedup.hash64(col("s")).as("h"))
      .as[Long].collect().toSeq
    val localSide = strs.map(graft.operators.AnnLsh.hash64Local)
    assert(sparkSide == localSide)
  }

  test("registrable domain kernel equals a naive full-rule-scan reference") {
    // independent oracle: the publicsuffix.org algorithm as a direct
    // scan over ALL ~9.5k rules (no label-count indexing, no early
    // exit) — any indexing/ordering bug in the kernel diverges
    // materialized ONCE: pslRows is a def that rebuilds + sorts the
    // ~9.5k-row table per call
    val rows = graft.operators.Url.pslRows
    def naive(host: String): String = {
      val labels = host.split("\\.", -1)
      val n = labels.length
      def last(k: Int) = labels.slice(n - k, n).mkString(".")
      val exc = rows.collect {
        case ("x", s, k) if n >= k && last(k) == s => (k, s) }
      if (exc.nonEmpty) exc.maxBy(_._1)._2
      else {
        val effs = rows.flatMap {
          case ("r", s, k) if n >= k && last(k) == s => Some(k)
          case ("w", s, k) if n >= k + 1 && last(k) == s => Some(k + 1)
          case _ => None
        }
        val eff = if (effs.nonEmpty) effs.max else 1 // implicit `*`
        if (n >= eff + 1) last(eff + 1) else host
      }
    }
    val ruleGen = Gen.oneOf(rows).map {
      case ("w", s, _) => "wild." + s // a concrete label under the base
      case (_, s, _) => s
    }
    val label = Gen.oneOf(Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8)),
      Gen.const("www"), Gen.const("a"))
    val hostGen = Gen.oneOf(
      ruleGen, // a bare rule as the host
      Gen.zip(label, ruleGen).map { case (l, s) => s"$l.$s" },
      Gen.zip(label, label, ruleGen).map { case (a, b, s) => s"$a.$b.$s" },
      Gen.zip(label, label).map { case (a, b) => s"$a.$b.zzunknown" },
      label) // single label
    val hosts = Gen.listOfN(300, hostGen).sample.get
    val sparkSide = hosts.toDF("h")
      .select(graft.operators.Url.registrableDomain(col("h")).as("d"))
      .as[String].collect().toSeq
    val naiveSide = hosts.map(naive)
    hosts.lazyZip(sparkSide).lazyZip(naiveSide).foreach { (h, s, nv) =>
      assert(s == nv, s"host=$h kernel=$s naive=$nv")
    }
  }

  test("angular distance is in [0,1], symmetric, and zero on self") {
    val vecs = Gen.listOfN(30,
      Gen.listOfN(8, Gen.chooseNum(-5.0, 5.0)).suchThat(v => v.exists(_ != 0.0))).sample.get
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val a = df.select(col("i").as("ia"), col("v").as("va"))
    val b = df.select(col("i").as("ib"), col("v").as("vb"))
    val pairs = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        Vectors.angularDist(col("va"), col("vb")).as("dab"),
        Vectors.angularDist(col("vb"), col("va")).as("dba"))
      .collect()
    pairs.foreach { r =>
      val (ia, ib, dab, dba) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(dab >= 0.0 && dab <= 1.0)
      assert(dab == dba, s"asymmetric: $ia $ib")
      if (ia == ib) assert(dab < 1e-6)
    }
  }

  test("minhash jaccard estimate tracks exact jaccard") {
    // construct docs with known overlap; minhash signature agreement
    // rate should approximate the true jaccard
    val base = (1 to 60).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.take(40) ++ (1 to 20).map(i => s"x$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", 64, 3)
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y } / 64.0
    // true shingle jaccard of the two docs
    val sets = docs.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val inter = sets(1L).toSet.intersect(sets(2L).toSet).size.toDouble
    val truth = inter / (sets(1L).size + sets(2L).size - inter)
    assert(math.abs(agree - truth) < 0.2, s"estimate=$agree truth=$truth")
  }

  test("topk aggregate equals sort-limit on random data") {
    val rows = Gen.listOfN(300, Gen.zip(Gen.chooseNum(0L, 4L),
      Gen.chooseNum(0.0, 100.0), Gen.chooseNum(0L, 10000L))).sample.get
    val df = rows.toDF("qid", "dist", "id")
    val viaAgg = df.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topk(col("dist"), col("id"), 5).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.dist"), col("t.id"))
      .as[(Long, Double, Long)].collect().toSet
    val viaSort = rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      rs.map(r => (r._2, r._3)).sorted.take(5).map(p => (q, p._1, p._2))
    }.toSet
    assert(viaAgg == viaSort)
  }

  test("packing conserves tokens and docs; windows respect the running offset") {
    val toks = Gen.listOfN(120, Gen.chooseNum(1, 700)).sample.get
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, s"g${i % 3}", t) }
      .toDF("id", "grp", "n_tok")
    val stats = graft.operators.Sampling
      .packStats(df, "id", col("n_tok"), col("grp"), 512)
      .as[(String, Long, Long, Long)].collect()
    // conservation: every doc and every token lands in exactly one window
    assert(stats.map(_._3).sum == 120L)
    assert(stats.map(_._4).sum == toks.map(_.toLong).sum)
    // window ids start at 0 and never exceed the group's token mass /
    // window size (docs longer than a window may skip ids, so exact
    // contiguity is not an invariant)
    stats.groupBy(_._1).foreach { case (_, rows) =>
      val ids = rows.map(_._2)
      assert(ids.min == 0L)
      assert(ids.max <= rows.map(_._4).sum / 512 + 1)
    }
  }

  test("stratified sample is a deterministic subset; rate 1 keeps all, 0 none") {
    val df = (0L until 300L).map(i => (i, s"s${i % 2}")).toDF("id", "src")
    val all = graft.operators.Sampling.stratified(df, "id", col("src"),
      Map("s0" -> 1.0, "s1" -> 1.0)).count()
    val none = graft.operators.Sampling.stratified(df, "id", col("src"),
      Map("s0" -> 0.0, "s1" -> 0.0)).count()
    assert(all == 300L && none == 0L)
    // monotone: raising a rate only adds rows, never swaps them
    val lo = graft.operators.Sampling.stratified(df, "id", col("src"),
      Map("s0" -> 0.2, "s1" -> 0.2)).select("id").as[Long].collect().toSet
    val hi = graft.operators.Sampling.stratified(df, "id", col("src"),
      Map("s0" -> 0.6, "s1" -> 0.6)).select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
  }

  test("packed codes use the reference byte layout and round-trip all widths") {
    import graft.functions.BinaryExprs
    // layout pins (collection.go:726-731): 4-bit even index -> HIGH
    // nibble; odd count leaves the last low nibble zero; 16-bit is BE
    val codes4 = Seq(Tuple1(Seq(0xA, 0x3, 0xF))).toDF("c")
      .select(BinaryExprs.packCodes(col("c"), 4).as("b"))
      .as[Array[Byte]].head()
    assert(codes4.toSeq == Seq(0xA3.toByte, 0xF0.toByte))
    val codes16 = Seq(Tuple1(Seq(0x1234, 0x00FF))).toDF("c")
      .select(BinaryExprs.packCodes(col("c"), 16).as("b"))
      .as[Array[Byte]].head()
    assert(codes16.toSeq == Seq(0x12.toByte, 0x34.toByte, 0x00.toByte, 0xFF.toByte))
    // pack -> unpack round-trips the quantized grid exactly, including
    // odd dimension counts for the nibble case
    for (bits <- Seq(4, 8, 16); dims <- Seq(7, 8)) {
      val xs = Gen.listOfN(dims, Gen.chooseNum(-1.0, 1.0)).sample.get
      val df = Seq(Tuple1(xs)).toDF("v")
      val direct = df.select(Quantization.dequantize(
          Quantization.quantize(col("v"), bits), bits).as("d"))
        .as[Seq[Double]].head()
      val packed = df.select(Quantization.unpackVector(
          Quantization.packVector(col("v"), bits), bits, dims).as("d"))
        .as[Seq[Double]].head()
      assert(packed == direct, s"bits=$bits dims=$dims")
    }
  }

  test("forest expressions: interpreted eval equals codegen'd execution") {
    import graft.functions.{ByteStride, LshForestHit, MultiLshBuckets}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType}
    val (tables, bits, dim) = (5, 4, 16)
    val vecs = Gen.listOfN(25,
      Gen.listOfN(dim, Gen.chooseNum(-1.0, 1.0))).sample.get
    // codegen'd path: through a real projection
    val viaSpark = vecs.map(Tuple1(_)).toDF("v")
      .select(graft.functions.MultiLshBuckets.keys(col("v"), tables, bits, dim).as("k"))
      .as[Seq[Long]].collect().toSeq
    // interpreted path: direct eval on the expression
    val expr = MultiLshBuckets(
      BoundReference(0, ArrayType(DoubleType), nullable = false), tables, bits, dim)
    val viaEval = vecs.map { v =>
      expr.eval(InternalRow(new GenericArrayData(v.toArray)))
        .asInstanceOf[ArrayData].toLongArray().toSeq
    }
    assert(viaSpark == viaEval)
    // LshForestHit agrees with key equality against any query's keys
    val qKeys = viaEval.head.toArray
    val hitExpr = LshForestHit(
      BoundReference(0, ArrayType(DoubleType), nullable = false), qKeys, bits, dim)
    vecs.zip(viaEval).foreach { case (v, keys) =>
      val hit = hitExpr.eval(InternalRow(new GenericArrayData(v.toArray)))
        .asInstanceOf[Boolean]
      assert(hit == keys.zip(qKeys).exists { case (a, b) => a == b }, s"v=$v")
    }
    // ByteStride: eval equals codegen for arbitrary bytes
    val payloads = Gen.listOfN(10, Gen.listOfN(37, Gen.chooseNum(-128, 127)))
      .sample.get.map(_.map(_.toByte).toArray)
    val strideSpark = payloads.map(Tuple1(_)).toDF("b")
      .select(graft.functions.BinaryExprs.byteStride(col("b"), 5).as("s"))
      .as[Array[Byte]].collect().toSeq.map(_.toSeq)
    val strideExpr = ByteStride(BoundReference(0, BinaryType, nullable = false), 5)
    val strideEval = payloads.map(p =>
      strideExpr.eval(InternalRow(p)).asInstanceOf[Array[Byte]].toSeq)
    assert(strideSpark == strideEval)
  }

  test("binary walkers never throw on arbitrary bytes (fuzz)") {
    import graft.functions.BinaryExprs
    val gen = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
    val seeded = org.scalacheck.rng.Seed(42L)
    val cases: Seq[Array[Byte]] =
      (0 until 300).scanLeft((seeded, Array.emptyByteArray)) { case ((s, _), _) =>
        val r = gen.pureApply(Gen.Parameters.default, s)
        (s.next, r.toArray)
      }.map(_._2) ++
        // adversarial prefixes: valid magic + garbage body
        Seq("RIFF1234WAVE", "RIFFxxxxWAVEfmt ", "   ftypisom",
          "ÿØÿ").map(_.getBytes("ISO-8859-1"))
    cases.foreach { b =>
      // must return null or a sane value — never throw, never loop
      BinaryExprs.jpegScan(b)
      val w = BinaryExprs.wavScan(b)
      if (w != null) assert(w.length == 4)
      val m = BinaryExprs.mp4Scan(b)
      if (m != null) assert(m.length == 3)
    }
  }

  test("KMV sketch equals the k smallest distinct hashes, any partitioning") {
    import graft.functions.KmvAgg
    val vals = Gen.listOfN(400, Gen.chooseNum(0L, 60L)).sample.get // heavy dups
    val df = vals.map(Tuple1(_)).toDF("v")
      .select(Dedup.hash64(col("v").cast("string")).as("h"))
    for (parts <- Seq(1, 7)) {
      val sketch = df.repartition(parts)
        .agg(KmvAgg.kmv(col("h"), 16).as("s")).as[Seq[Long]].head()
      val brute = vals.distinct
        .map(v => graft.operators.AnnLsh.hash64Local(v.toString))
        .distinct.sorted.take(16)
      assert(sketch == brute, s"parts=$parts")
    }
  }

  test("cluster labels are component minima: label <= id, label is a member") {
    val edges = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0L, 39L), Gen.chooseNum(0L, 39L))).sample.get
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val df = edges.toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(df).as[(Long, Long)].collect().toMap
    labels.foreach { case (id, label) =>
      assert(label <= id)
      assert(labels.contains(label) && labels(label) == label,
        s"label $label of $id is not a cluster root")
    }
    // every edge's endpoints agree on their cluster
    edges.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across clusters")
    }
  }

  test("duplicatedSpans equals a brute-force sliding-window reference") {
    val rnd = new scala.util.Random(42)
    // tiny vocabulary forces plenty of repeated windows, both
    // cross-doc and within-doc
    val vocab = Vector("a", "b", "c", "d")
    for (trial <- 1 to 3; minLen <- Seq(2, 3)) {
      val docs = (1L to 12L).map { id =>
        id -> Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      // reference: every minLen-word window text occurring >= 2 times
      // anywhere covers its positions; merge contiguous runs
      val winOcc = scala.collection.mutable.Map[String, Int]()
      val wins = docs.map { case (id, text) =>
        val w = text.split(" ", -1)
        val ps = (1 to w.length - minLen + 1)
          .map(p => p -> w.slice(p - 1, p - 1 + minLen).mkString(" "))
        ps.foreach { case (_, s) => winOcc(s) = winOcc.getOrElse(s, 0) + 1 }
        id -> ps
      }
      val expected = wins.flatMap { case (id, ps) =>
        val covered = ps.collect { case (p, s) if winOcc(s) >= 2 =>
          (p until p + minLen) }.flatten.toSet
        val sorted = covered.toSeq.sorted
        val spans = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long)]()
        var start = -1; var prev = -2
        (sorted :+ Int.MaxValue).foreach { p =>
          if (p != prev + 1) {
            if (start >= 0)
              spans += ((id, start.toLong, (prev + 1).toLong, (prev + 1 - start).toLong))
            start = p
          }
          prev = p
        }
        spans
      }.toSet
      val got = Dedup.duplicatedSpans(
          docs.toDF("doc_id", "text"), "text", "doc_id", minLen)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"trial=$trial minLen=$minLen")
    }
  }

  test("duplicatedSpansKeepFirst equals a brute-force first-occurrence reference") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    for (trial <- 1 to 3; minLen <- Seq(2, 3)) {
      val docs = (1L to 12L).map { id =>
        id -> Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      // reference: of each window text occurring >= 2 times, the
      // occurrence with the smallest (doc, pos) is the owner; only the
      // later occurrences cover their positions
      val occ = scala.collection.mutable.Map[String, List[(Long, Int)]]()
      val wins = docs.map { case (id, text) =>
        val w = text.split(" ", -1)
        val ps = (1 to w.length - minLen + 1)
          .map(p => p -> w.slice(p - 1, p - 1 + minLen).mkString(" "))
        ps.foreach { case (p, s) => occ(s) = (id, p) :: occ.getOrElse(s, Nil) }
        id -> ps
      }
      val firstOf = occ.map { case (s, os) => s -> os.min }.toMap
      val dupTexts = occ.collect { case (s, os) if os.size >= 2 => s }.toSet
      val expected = wins.flatMap { case (id, ps) =>
        val covered = ps.collect {
          case (p, s) if dupTexts(s) && firstOf(s) != ((id, p)) =>
            (p until p + minLen)
        }.flatten.toSet
        val sorted = covered.toSeq.sorted
        val spans = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long)]()
        var start = -1; var prev = -2
        (sorted :+ Int.MaxValue).foreach { p =>
          if (p != prev + 1) {
            if (start >= 0)
              spans += ((id, start.toLong, (prev + 1).toLong, (prev + 1 - start).toLong))
            start = p
          }
          prev = p
        }
        spans
      }.toSet
      val got = Dedup.duplicatedSpansKeepFirst(
          docs.toDF("doc_id", "text"), "text", "doc_id", minLen)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"trial=$trial minLen=$minLen")
    }
  }

  test("incremental keep-first equivalence holds on random corpora") {
    // probeSubstringSpans(corpus index) ∪ keepFirst(delta alone) covers
    // exactly keepFirst(corpus ∪ delta)'s delta-side positions whenever
    // delta ids sort after corpus ids — randomized over a tiny
    // vocabulary so shared windows are plentiful (see DedupSpec for
    // the reasoned fixture version)
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d")
    def covered(spans: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      spans.select(col("doc_id"), col("span_start"), col("span_end"))
        .as[(Long, Long, Long)].collect()
        .flatMap { case (id, s, e) => (s until e).map(id -> _) }.toSet
    for (trial <- 1 to 2; minLen <- Seq(2, 3)) {
      val mk = (ids: Seq[Long]) => ids.map { id =>
        id -> Seq.fill(3 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val corpus = mk(1L to 8L).toDF("doc_id", "text")
      val delta = mk(100L to 105L).toDF("doc_id", "text")
      val full = covered(Dedup.duplicatedSpansKeepFirst(
          corpus.unionByName(delta), "text", "doc_id", minLen)
        .filter(col("doc_id") >= 100L))
      val path = tempDir("graft-inc-prop").toString + "/idx"
      Dedup.writeSubstringIndex(corpus, "text", "doc_id", path, minLen,
        numBuckets = 8)
      val inc =
        covered(Dedup.probeSubstringSpans(spark, path, delta, "text",
          "doc_id", minLen, numBuckets = 8)) ++
        covered(Dedup.duplicatedSpansKeepFirst(delta, "text", "doc_id",
          minLen))
      assert(full == inc, s"trial=$trial minLen=$minLen")
    }
  }
}
