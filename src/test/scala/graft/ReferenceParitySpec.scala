package graft

import org.apache.spark.sql.functions._
import graft.query.FilterCompiler

/** The reference's OWN filter-language test table
  * (query/compiler_test.go TestCreateFilterFunction), evaluated
  * through graft's JSON-mode compiler: each case is one JSON record
  * and one DSL string, and the want-bit must match the Go engine's.
  * The two commented-out ANY/ALL cases in the Go table are included —
  * graft implements them (the reference's compiler supports the nodes
  * even though its own test table has them disabled). */
class ReferenceParitySpec extends SparkSpec {
  import spark.implicits._

  private val cases: Seq[(String, String, String, Boolean)] = Seq(
    ("simple equality", "age == 30", """{"age": 30}""", true),
    ("complex condition",
      "(age >= 18 AND status == 'active') OR role == 'admin'",
      """{"age": 25, "status": "active", "role": "user"}""", true),
    ("nested field and string operation",
      "user.email ENDS_WITH '@example.com'",
      """{"user": {"email": "john@example.com"}}""", true),
    ("IN operator", "status IN ['active', 'pending']",
      """{"status": "pending"}""", true),
    ("NOT IN operator", "status NOT IN ['inactive', 'suspended']",
      """{"status": "active"}""", true),
    ("complex nested condition",
      "(user.age > 25 AND (user.status == 'active' OR user.role == 'admin')) AND company.name STARTS_WITH 'Tech'",
      """{"user": {"age": 30, "status": "inactive", "role": "admin"}, "company": {"name": "TechCorp"}}""",
      true),
    ("array operation with ANY", "ANY(items[*].quantity > 100)",
      """{"items": [{"quantity": 50}, {"quantity": 120}, {"quantity": 80}]}""", true),
    ("array operation with ALL", "ALL(scores[*] >= 60)",
      """{"scores": [75, 80, 90, 65]}""", true),
    ("string operations",
      "name CONTAINS 'John' AND email ENDS_WITH '@example.com' AND id STARTS_WITH 'USER'",
      """{"name": "John Doe", "email": "johndoe@example.com", "id": "USER123"}""", true),
    ("numeric comparisons",
      "price > 100 AND price < 200 AND quantity >= 5 AND discount <= 0.2",
      """{"price": 150, "quantity": 10, "discount": 0.15}""", true),
    ("boolean operations", "is_active == true AND is_deleted == false",
      """{"is_active": true, "is_deleted": false}""", true),
    ("NULL checks", "optional_field == NULL AND required_field != NULL",
      """{"required_field": "value"}""", true),
    ("regular expression match", "username MATCHES '^[a-z0-9_]{3,16}$'",
      """{"username": "john_doe123"}""", true),
    ("complex array and object nesting",
      "users[0].contacts[1].address.city == 'New York' AND users[0].contacts[1].phones[1].type CONTAINS 'work'",
      """{"users": [{"contacts": [{"address": {"city": "Los Angeles"}}, {"address": {"city": "New York"}, "phones": [{"type": "home"}, {"type": "work"}]}]}]}""",
      true),
    ("function usage", "tags.length > 3 AND optional_field EXISTS",
      """{"tags": ["red", "green", "blue", "yellow"], "optional_field": "value"}""", true),
    ("complex logical operations",
      "((a > 10 OR b < 5) AND (c == true OR d != false)) OR (e IN [1, 2, 3] AND f NOT IN ['x', 'y', 'z'])",
      """{"a": 15, "b": 7, "c": false, "d": true, "e": 2, "f": "w"}""", true),
    // negative twins — same queries, records built to fail
    ("simple equality (miss)", "age == 30", """{"age": 31}""", false),
    ("IN operator (miss)", "status IN ['active', 'pending']",
      """{"status": "closed"}""", false),
    ("ANY (miss)", "ANY(items[*].quantity > 100)",
      """{"items": [{"quantity": 50}, {"quantity": 80}]}""", false),
    ("ALL (miss)", "ALL(scores[*] >= 60)", """{"scores": [75, 40]}""", false),
    ("MATCHES (miss)", "username MATCHES '^[a-z0-9_]{3,16}$'",
      """{"username": "John Doe!"}""", false)
  )

  test("the reference's query test table evaluates identically (compiler_test.go)") {
    cases.foreach { case (name, query, json, want) =>
      val df = Seq(Tuple1(json)).toDF("props")
      val kept = df.filter(FilterCompiler.compileJson(query, col("props"))).count() == 1
      assert(kept == want, s"case '$name': query [$query] over $json: got $kept, want $want")
    }
  }

  // ---------- parser parity (query/parser_test.go TestParser) ----------

  /** Render graft's AST in the reference parser test's notation
    * (`ast.String()` in query/parser.go): operators prefix their
    * operands, paths fold left as `.(base, field)` / `[](base, i)`,
    * literals print as in the source. */
  private def render(n: graft.query.FilterLang.Node): String = {
    import graft.query.FilterLang._
    def num(d: Double): String =
      if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    def lit(v: Any): String = v match {
      case s: String => s"'$s'"
      case d: Double => num(d)
      case b: Boolean => b.toString
      case null => "NULL"
      case other => other.toString
    }
    // the reference's path shape: items[0].price renders as
    // .([](items, 0), price) — each segment wraps the accumulated base
    def path2(segs: List[PathSeg]): String = segs match {
      case Field(f) :: rest =>
        rest.foldLeft(f) {
          case (acc, Field(g))  => s".($acc, $g)"
          case (acc, Index(i))  => s"[]($acc, $i)"
          case (acc, LengthSeg) => s".($acc, length)"
          case (acc, StarSeg)   => s"$acc[*]"
        }
      case other => other.toString
    }
    n match {
      case Ref(p) => path2(p)
      case Lit(v) => lit(v)
      case Param(name) => s":$name"
      case ArrayLit(vs) => vs.map(render).mkString("[", ", ", "]")
      case Cmp(op, l, r) => s"$op(${render(l)}, ${render(r)})"
      case StrOp(op, l, r) => s"$op(${render(l)}, ${render(r)})"
      case And(l, r) => s"AND(${render(l)}, ${render(r)})"
      case Or(l, r) => s"OR(${render(l)}, ${render(r)})"
      case Not(x) => s"NOT(${render(x)})"
      case In(e, arr, neg) =>
        s"${if (neg) "NOT_IN" else "IN"}(${render(e)}, ${render(arr)})"
      case Exists(ref, neg) =>
        s"${if (neg) "DOES_NOT_EXIST" else "EXISTS"}(${render(ref)})"
      case Length(arg) => s".(${render(arg)}, length)"
      case Quant(op, cond) => s"$op(${render(cond)})"
    }
  }

  test("the reference's parser test table produces the same ASTs (parser_test.go)") {
    import graft.query.FilterLang
    val table = Seq(
      ("age >= 18 AND status == 'active'",
        "AND(>=(age, 18), ==(status, 'active'))"),
      ("name STARTS_WITH 'J' OR name ENDS_WITH 'son'",
        "OR(STARTS_WITH(name, 'J'), ENDS_WITH(name, 'son'))"),
      ("tags CONTAINS 'urgent' AND priority > 5",
        "AND(CONTAINS(tags, 'urgent'), >(priority, 5))"),
      ("NOT (status == 'inactive' OR lastLogin < '2023-01-01')",
        "NOT(OR(==(status, 'inactive'), <(lastLogin, '2023-01-01')))"),
      ("age IN [18, 21, 25] AND country NOT IN ['US', 'CA']",
        "AND(IN(age, [18, 21, 25]), NOT_IN(country, ['US', 'CA']))"),
      ("middleName EXISTS AND nickname DOES NOT EXIST",
        "AND(EXISTS(middleName), DOES_NOT_EXIST(nickname))"),
      ("items.length > 0 AND items[0].price < 100",
        "AND(>(.(items, length), 0), <(.([](items, 0), price), 100))"),
      ("user.profile.completed == true AND user.age >= :minAge",
        "AND(==(.(.(user, profile), completed), true), >=(.(user, age), :minAge))"),
      ("(status == 'active' AND age >= 18) OR role == 'admin'",
        "OR(AND(==(status, 'active'), >=(age, 18)), ==(role, 'admin'))"))
    table.foreach { case (input, want) =>
      val got = render(FilterLang.parse(input))
      assert(got == want, s"[$input]\n  got  $got\n  want $want")
    }
  }

  // ---------- lexer parity (query/lexer_test.go) ----------

  test("the reference's lexer token streams reproduce (lexer_test.go)") {
    import graft.query.FilterLang._
    // TestNextToken
    assert(lex("""age >= 18 AND status == "active"""") == List(
      TIdent("age"), TOp(">="), TNum(18.0), TKw("AND"),
      TIdent("status"), TOp("=="), TStr("active"), TEof))
    // TestLexerAdditionalCases — note IN with PARENS is lexed (the
    // reference lexer accepts it; its parser table uses brackets)
    assert(lex("""name != "John" AND (age < 30 OR status IN ("active", "pending")) AND items[*].price > 100""") == List(
      TIdent("name"), TOp("!="), TStr("John"), TKw("AND"),
      TLParen, TIdent("age"), TOp("<"), TNum(30.0), TKw("OR"),
      TIdent("status"), TKw("IN"), TLParen, TStr("active"), TComma,
      TStr("pending"), TRParen, TRParen, TKw("AND"),
      TIdent("items"), TArrayStar, TDot, TIdent("price"),
      TOp(">"), TNum(100.0), TEof))
    // TestLexerExistsAndDoesNotExist — multi-word keywords merge
    assert(lex("""field1 EXISTS AND field2 DOES NOT EXIST OR field3 == "value"""") == List(
      TIdent("field1"), TKw("EXISTS"), TKw("AND"),
      TIdent("field2"), TKw("DOES_NOT_EXIST"), TKw("OR"),
      TIdent("field3"), TOp("=="), TStr("value"), TEof))
  }

  // ---------- CRUD parity (collection_test.go) ----------

  test("update document metadata (collection_test.go:196 TestUpdateDocument)") {
    import graft.core.{Collection, CollectionOptions}
    import graft.operators.Knn
    val dir = tempDir("graft-refupd").toFile
    dir.delete()
    val c = Collection.create(spark,
      CollectionOptions("upd", 3, Knn.Euclidean), dir.getAbsolutePath)
    c.addDocuments(Seq((1L, Seq(1.0, 2.0, 3.0), "original"))
      .toDF("id", "vector", "metadata"))
    c.updateMetadata(1L, "updated")
    assert(c.getDocument(1L).map(_._2).contains("updated"))
  }

  test("remove document keeps all others (collection_test.go:231 TestRemoveDocument)") {
    import graft.core.{Collection, CollectionOptions}
    import graft.operators.Knn
    val dir = tempDir("graft-refrm").toFile
    dir.delete()
    val c = Collection.create(spark,
      CollectionOptions("rm", 10, Knn.Euclidean, quantization = 64),
      dir.getAbsolutePath)
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 until 10).map(j => (i + j).toDouble), s"metadata_$i")
    }
    c.addDocuments(docs.toDF("id", "vector", "metadata"))
    c.removeDocuments(Seq(100L))
    assert(c.getDocument(100L).isEmpty, "document 100 was not removed")
    assert(c.documentCount() == 199)
    // spot-check the neighbors survived with their metadata
    assert(c.getDocument(99L).map(_._2).contains("metadata_99"))
    assert(c.getDocument(101L).map(_._2).contains("metadata_101"))
  }

  test("add, delete all, reopen, re-add, retrieve (collection_test.go:459)") {
    import graft.core.{Collection, CollectionOptions}
    import graft.operators.Knn
    val dir = tempDir("graft-refadr").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    val c = Collection.create(spark,
      CollectionOptions("adr", 3, Knn.Euclidean), path)
    c.addDocuments((0 until 10).map(i =>
        (i.toLong, Seq(i.toDouble, i + 1.0, i + 2.0), "metadata"))
      .toDF("id", "vector", "metadata"))
    c.removeDocuments(0L until 10L)
    // reopen (the parquet log is the persistence layer) and re-add
    val c2 = Collection.open(spark, path)
    assert(c2.documentCount() == 0)
    c2.addDocuments(Seq((1L, Seq(1.0, 2.0, 3.0), "larger metadata"))
      .toDF("id", "vector", "metadata"))
    val c3 = Collection.open(spark, path)
    val doc = c3.getDocument(1L)
    assert(doc.map(_._2).contains("larger metadata"))
    assert(doc.map(_._1).contains(Seq(1.0, 2.0, 3.0)))
  }

  test("sampled average distance is positive (collection_test.go:105)") {
    import graft.core.{Collection, CollectionOptions}
    import graft.operators.Knn
    val dir = tempDir("graft-refavg").toFile
    dir.delete()
    val c = Collection.create(spark,
      CollectionOptions("avg", 3, Knn.Euclidean), dir.getAbsolutePath)
    val docs = (0 until 100).map { i =>
      (i.toLong, Seq(math.abs(math.sin(i * 1.3)) * 100,
        math.abs(math.cos(i * 2.1)) * 100,
        math.abs(math.sin(i * 0.7)) * 100), "metadata")
    }
    c.addDocuments(docs.toDF("id", "vector", "metadata"))
    assert(c.averageDistance(50) > 0.0)
  }

  test("euclidean distance pins the reference's value (collection_test.go:12)") {
    import graft.operators.Knn
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(Knn.distCol(Knn.Euclidean, col("a"), col("b"))).as[Double].head()
    assert(d == 5.196152422706632)
  }

  test("exhaustive exact search returns every doc at PercentSearched 100 (collection_test.go:549)") {
    import graft.core.{Collection, CollectionOptions, SearchArgs}
    import graft.operators.Knn
    val dir = tempDir("graft-refx").toFile
    dir.delete()
    val c = Collection.create(spark,
      CollectionOptions("exhaustive", 3, Knn.Euclidean), dir.getAbsolutePath)
    c.addDocuments(Seq(
      (1L, Seq(1.0, 2.0, 3.0), "doc1"),
      (2L, Seq(4.0, 5.0, 6.0), "doc2"),
      (3L, Seq(7.0, 8.0, 9.0), "doc3")).toDF("id", "vector", "metadata"))
    val res = c.searchWithStats(SearchArgs(
      vector = Some(Seq(1.0, 2.0, 3.0)), k = 3, precision = "exact"))
    assert(res.results.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(res.percentSearched == 100.0)
  }

  test("4-bit quantized collections still search (collection_test.go:614)") {
    import graft.core.{Collection, CollectionOptions, SearchArgs}
    import graft.operators.Knn
    val dir = tempDir("graft-ref4b").toFile
    dir.delete()
    val c = Collection.create(spark,
      CollectionOptions("4bit", 3, Knn.Euclidean, quantization = 4),
      dir.getAbsolutePath)
    val docs = (0 until 10).map { i =>
      (i.toLong, Seq(math.abs(math.sin(i * 1.3)), math.abs(math.cos(i * 2.1)),
        math.abs(math.sin(i * 0.7))), "metadata")
    }
    c.addDocuments(docs.toDF("id", "vector", "metadata"))
    val res = c.search(SearchArgs(
      vector = Some(Seq(0.5, 0.5, 0.5)), k = 5, precision = "exact"))
    assert(res.count() == 5)
    // stored vectors are on the 4-bit grid (quantize-dequantize applied)
    val stored = c.getDocument(0L).get._1
    stored.foreach { x =>
      val grid = math.round(x * 15.0) / 15.0
      assert(math.abs(x - grid) < 1e-9, s"$x not on the 4-bit grid")
    }
  }

  test("exact vs medium cosine search agree within the reference's bound (collection_test.go:23)") {
    import graft.core.{Collection, CollectionOptions, SearchArgs}
    import graft.operators.Knn
    val dir = tempDir("graft-refprec").toFile
    dir.delete()
    // the reference builds a Cosine collection of random [0,1) vectors
    // and asserts: same result count, per-rank relative distance gap
    // within its bound, and PercentSearched < 100 for medium. Medium
    // here = the LSH forest (lshTables > 1), its numTrees analogue.
    val c = Collection.create(spark,
      CollectionOptions("precision_cmp", 3, Knn.Cosine,
        lshPlanes = 4, lshTables = 8), dir.getAbsolutePath)
    // the reference draws [0,1) vectors; its ADAPTIVE tree splits
    // through data midpoints, implicitly centering. Graft's fixed
    // origin-hyperplane buckets assume roughly centered data (SURVEY
    // §6), so the parity set spans [-1,1] — same contract, scan-native
    // geometry
    val docs = (0 until 500).map { i =>
      (i.toLong, Seq(math.sin(i * 1.17), math.sin(i * 2.31 + 0.5),
        math.sin(i * 0.59 + 1.1)), s"metadata_$i")
    }
    c.addDocuments(docs.toDF("id", "vector", "metadata"))
    val qv = docs.head._2
    val exact = c.searchWithStats(SearchArgs(
      vector = Some(qv), k = 10, precision = "exact"))
    val medium = c.searchWithStats(SearchArgs(
      vector = Some(qv), k = 10, precision = "medium"))
    val de = exact.results.select("dist").as[Double].collect()
    val dm = medium.results.select("dist").as[Double].collect()
    assert(de.length == dm.length, s"expected same count, got ${de.length}/${dm.length}")
    de.zip(dm).foreach { case (e, m) =>
      // reference bound: |exact - medium| / exact <= 1 per rank
      // (self-match rank divides 0/0 -> NaN, which the Go test's
      // `> 1` comparison also treats as a pass)
      if (e > 0.0) assert(math.abs(e - m) / e <= 1.0, s"rank gap: exact=$e medium=$m")
    }
    assert(exact.percentSearched == 100.0)
    assert(medium.percentSearched < 100.0,
      s"medium should not scan the whole corpus: ${medium.percentSearched}")
  }
}
