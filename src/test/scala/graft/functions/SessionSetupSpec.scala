package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

import scala.jdk.CollectionConverters._

/** How a session gets graft's functions and TopK rules: from the one
  * table [[GraftFunctions.fns]], injected by [[GraftExtensions]] or
  * added by [[GraftFunctions.register]] where missing, with every
  * private session opened by [[GraftFunctions.childSession]]. Plus the
  * source lint that keeps registration at those boundaries.
  */
class SessionSetupSpec extends SparkSpec {

  private val names = GraftFunctions.fns.map(_._1)

  private def resolves(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  /** A session on the shared state built without any extension: what
    * a library user gets from a plain builder.
    */
  private lazy val bare: SparkSession = {
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    ctor.newInstance(spark.sparkContext, Some(spark.sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }

  test("a fresh child of the extension-built session resolves every function, no register call") {
    val fresh = spark.newSession()
    assert(names.filterNot(resolves(fresh, _)).isEmpty)
    val described = fresh.sql("DESCRIBE FUNCTION simhash64").collect().map(_.getString(0))
    assert(described.contains("Class: graft.functions.SimHash64"), described.mkString("\n"))
  }

  test("register adds nothing to an extension-built session: TopKStrategy is planned once") {
    GraftFunctions.register(spark)
    assert(spark.sessionState.planner.strategies.count(_ == graft.plans.TopKStrategy) == 1)
    assert(!spark.experimental.extraOptimizations.contains(graft.plans.TopKRewrite))
  }

  test("a session without the extension runs entries through fn, and its children through childSession") {
    assert(!resolves(bare, "vec_dot"))
    for (name <- Seq("q33_bloom_prefilter", "s05_ivf_index_probe", "s06_ivf_batch_probe",
        "d03_ngram_jaccard", "s13_hard_negatives")) {
      val q = graft.Registry.byName(name)
      spark.sharedState.cacheManager.clearCache()
      val want = q.fn(spark, sf0001).count()
      spark.sharedState.cacheManager.clearCache()
      assert(q.fn(bare, sf0001).count() == want, name)
      assert(want > 0, name)
    }
    assert(names.forall(resolves(bare, _)))
    assert(bare.sessionState.planner.strategies.count(_ == graft.plans.TopKStrategy) == 1)
    assert(!resolves(bare.newSession(), "vec_dot"))
    assert(resolves(GraftFunctions.childSession(bare), "vec_dot"))
  }

  /** `src/main` lines that are code: not blank and not a comment line. */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val comment = """^\s*($|//|/\*|\*)""".r
    val stream = java.nio.file.Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if comment.findFirstIn(line).isEmpty =>
          (p.getFileName.toString, i + 1, line.trim)
      }
    } finally stream.close()
  }

  test("lint: register runs at its 2 boundaries, newSession only in childSession, one list of names") {
    val calls = codeLines.filter { case (_, _, l) =>
      """\bregister\(""".r.findFirstIn(l).isDefined && !l.contains("def register(") }
    assert(calls.map(_._1).sorted == Seq("Expressions.scala", "QueryDef.scala"),
      s"register( outside QueryDef.fn and childSession:\n  ${calls.mkString("\n  ")}")
    val sessions = codeLines.filter(_._3.contains("newSession()"))
    assert(sessions.map(_._1) == Seq("Expressions.scala"),
      s"newSession() outside GraftFunctions.childSession:\n  ${sessions.mkString("\n  ")}")
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/functions/Expressions.scala")), "UTF-8")
    val from = src.indexOf("class GraftExtensions")
    val ext = src.substring(from, src.indexOf("\n}", from))
    val literals = names.filter(n => ext.contains("\"" + n + "\""))
    assert(literals.isEmpty, s"GraftExtensions names functions itself: $literals")
  }
}
