package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.StoreReporter

/** The program's environment surface, read from the main sources: every
  * env var a main or operator reads, no stdout writes from library code
  * (Bench's stdout carries exactly one JSON line), no session function
  * registry, and no library member that only tests reach.
  */
class KnobCensusSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources(dir: Path): Seq[(Path, String)] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("the main sources read exactly the documented env vars") {
    val reads = """(?:sys\.env|System\.getenv)""".r
    val keyed = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"([^"]+)"""".r
    val all = sources(root)
    val keys = all.flatMap { case (_, src) => keyed.findAllMatchIn(src).map(_.group(1)) }
    val unkeyed = all.filter { case (_, src) =>
      reads.findAllMatchIn(src).size != keyed.findAllMatchIn(src).size
    }.map(_._1)
    assert(unkeyed.isEmpty, s"env reads without a literal key in: ${unkeyed.mkString(", ")}")
    assert(keys.toSet == Set("CPUS", "SF_DIR", "FIT_DIR", "MAX_FILES_PER_TRIGGER",
      "SPREAD", "BENCH_ONLY").map("SPARK_GRAFT_" + _))
  }

  /** Members no entry point calls, kept because a test needs them. */
  private val testOnly = Map(
    // references the tests diff kernels against
    "AsofJoin.asofJoin" -> "union+window as-of join the bucketed and native forms are diffed against",
    "Dedup.ngramJaccardPairsJoin" -> "join form the grouped n-gram Jaccard kernel is asserted equal to",
    "Dedup.knnGraphJoin" -> "join form the grouped kNN-graph kernel is asserted equal to",
    "TextAnalysis.scrubAgainstSet" -> "explicit-set scrub CurationProps checks against decontamScrub",
    "Tables.rawShingles" -> "exploded shingles the ngram_stats kernel is diffed against",
    "Multimodal.extractFeatures" -> "per-partition decoder the relational multimodal queries are diffed against",
    "Multimodal.mediaFromDocuments" -> "media table the decoder reference reads",
    "Multimodal.sampleFrames" -> "flatMap frame sampler the relational frame query is diffed against",
    "StreamingPipeline.DeltaIndex.runCount" -> "the run count StreamingSinkSpec bounds by log2(batches) + 1",
    // frame-level seams: the session query reads sfDir, the spec feeds a hand-built frame
    "Dedup.incrementalMinhashMatches" -> "incremental MinHash matching over given new/prior frames",
    "EntityResolution.erGoldenIncrementalOver" -> "incremental golden records over given standing/arrival frames",
    "Graph.undirectedKnn" -> "undirected kNN edges over given embeddings",
    "Similarity.cellAssigner" -> "IVF cell assignment fitted on a given corpus",
    "Similarity.driftScorerCols" -> "drift scorer columns fitted on a given corpus",
    "Similarity.indexDrift" -> "index-drift report over given embeddings",
    "Similarity.diverseSample" -> "diverse sample over given embeddings",
    "TextAnalysis.corpusFilter" -> "corpus filter over a given document frame",
    "TextAnalysis.corpusAssembly" -> "corpus assembly over a given document frame",
    "TextAnalysis.corpusRejections" -> "rejection ledger over a given document frame",
    "TextAnalysis.dsirScores" -> "DSIR scores over a given document frame")

  test("every library member is used by main code or allowlisted with its reason") {
    val main = sources(root).map { case (p, src) => Census.parse(p, src) }
    // this spec's allowlist names every entry, so it is no caller
    val test = sources(Paths.get("src/test/scala"))
      .filterNot(_._1.endsWith("KnobCensusSpec.scala"))
      .map { case (p, src) => Census.parse(p, src) }
    // the entry points: SparkEntry and every object that defines `main`
    val roots = main.flatMap(Census.entryPoints).toSet
    val defined = main.flatMap(Census.members).filterNot { case (q, _) => roots(q) }
    val usedInMain = main.flatMap(Census.uses).toSet
    val usedInTest = test.flatMap(Census.uses).toSet
    val unreached = defined.collect { case (q, n) if !usedInMain(n) => q }.toSet
    val stray = (unreached -- testOnly.keySet).toSeq.sorted
    assert(stray.isEmpty, s"members no entry point reaches: ${stray.mkString(", ")}")
    // the allowlist cannot rot: each entry still exists, still lacks a main caller, has a test caller
    val simple = defined.toMap
    val rotten = testOnly.keys.toSeq.sorted.flatMap { q =>
      simple.get(q) match {
        case None => Some(s"$q is not defined")
        case Some(n) if usedInMain(n) => Some(s"$q is used in main")
        case Some(n) if !usedInTest(n) => Some(s"$q has no caller in src/test")
        case _ => None
      }
    }
    assert(rotten.isEmpty, rotten.mkString("; "))
  }

  /** The ten `graft.functions` kernels, by the names SQL text would call them. */
  private val kernels = Set("vec_dot", "simhash56", "minhash_sig", "shingle_hashes",
    "ngram_stats", "tok_entropy", "winnow_fps", "sorted_intersect_count",
    "bloom_agg", "bloom_might_contain")

  test("kernels are Column builders: nothing registers a function or calls one by name") {
    val all = sources(root)
    val banned = for {
      (p, src) <- all
      b <- Seq("functionRegistry", "createOrReplaceTempFunction", "call_function(",
        "SparkSession.active") if src.contains(b)
    } yield s"$p: $b"
    // the SQL text Spark parses at run time; the DuckDB oracle strings are
    // never passed to these, so they may name the kernels freely
    val byName = all.flatMap { case (p, src) =>
      Census.sqlStrings(Census.parse(p, src))
        .filter(sql => """\w+""".r.findAllIn(sql).exists(kernels))
        .map(sql => s"$p: $sql")
    }
    assert(banned.isEmpty && byName.isEmpty, (banned ++ byName).mkString("\n"))
  }

  test("library packages never write to stdout") {
    val writers = Seq("ops", "streaming", "functions").flatMap { d =>
      sources(root.resolve(s"graft/$d")).collect {
        case (p, src) if src.contains("println") => p
      }
    }
    assert(writers.isEmpty, s"println in library code: ${writers.mkString(", ")}")
  }
}

/** A use-site census over parsed sources: the Scala parser only, no typer
  * and no Spark.
  *
  *  - A member is a `def`/`val`/`class`/`object`/`trait` of a package or a
  *    template; `override`s (Catalyst and Spark callbacks) and
  *    constructor fields are not counted.
  *  - A name is USED where an identifier or a selection names it outside a
  *    definition of that name, or where a string literal holds it as a
  *    word (generated Java names its kernels). Bindings are not uses: a
  *    parameter, pattern variable or local definition shadows the name in
  *    its scope, and a named argument's name and an import name nothing.
  */
private object Census {
  private val settings = new Settings
  settings.usejavacp.value = true
  private val reporter = new StoreReporter(settings)
  val global = new Global(settings, reporter)
  import global._
  new Run // the parser reads the current run's settings

  def parse(path: Path, src: String): Tree = {
    val tree = newUnitParser(src, path.toString).parse()
    assert(!reporter.hasErrors, s"$path: ${reporter.infos.mkString("; ")}")
    tree
  }

  private def counted(d: MemberDef): Boolean =
    !d.mods.isOverride && !d.mods.isParamAccessor && d.name != nme.CONSTRUCTOR &&
      !d.name.decoded.contains("$")

  /** (qualified name, name) of every member, nested ones under their owner. */
  def members(t: Tree): Seq[(String, String)] = {
    def in(prefix: String, t: Tree): Seq[(String, String)] = t match {
      case PackageDef(_, stats) => stats.flatMap(in(prefix, _))
      case d: ImplDef if counted(d) =>
        val q = prefix + d.name.decoded
        (q -> d.name.decoded) +: d.impl.body.flatMap(in(q + ".", _))
      case d: ValOrDefDef if counted(d) => Seq((prefix + d.name.decoded) -> d.name.decoded)
      case _ => Nil
    }
    in("", t)
  }

  /** The qualified names an entry point contributes: the object and its `main`. */
  def entryPoints(t: Tree): Seq[String] = t.collect {
    case m: ModuleDef if m.name.decoded == "SparkEntry" ||
        m.impl.body.exists { case d: DefDef => d.name.decoded == "main"; case _ => false } =>
      m.name.decoded
  }.flatMap(o => Seq(o, s"$o.main"))

  /** The names a tree brings into scope for its children. */
  private def binders(t: Tree): Seq[Name] = t match {
    case d: DefDef => d.tparams.map(_.name) ++ d.vparamss.flatten.map(_.name)
    case d: ImplDef => d.impl.body.collect { case v: ValDef if v.mods.isParamAccessor => v.name }
    case Function(params, _) => params.map(_.name)
    case Block(stats, _) => stats.collect { case d: MemberDef => d.name }
    case CaseDef(pat, _, _) => pat.collect { case b: Bind => b.name }
    case _ => Nil
  }

  private val word = """\w+""".r

  private val sqlEntries = Set("expr", "selectExpr", "sql")

  /** The string literals (interpolated parts included) passed to
    * `expr`, `selectExpr` or `sql`: SQL text Spark parses at run time.
    */
  def sqlStrings(t: Tree): Seq[String] = t.collect {
    case Apply(Ident(n), args) if sqlEntries(n.decoded) => args
    case Apply(Select(_, n), args) if sqlEntries(n.decoded) => args
  }.flatten.flatMap(_.collect { case Literal(Constant(s: String)) => s })

  def uses(t: Tree): Set[String] = {
    val out = mutable.Set.empty[String]
    // `locals`: names a binding shadows; `owners`: the defs and templates
    // being walked, whose own names inside them are no use
    def walk(t: Tree, locals: Set[String], owners: Set[String]): Unit = t match {
      case _: Import => ()
      case Ident(n) => if (!locals(n.decoded) && !owners(n.decoded)) out += n.decoded
      case Select(q, n) => if (!owners(n.decoded)) out += n.decoded; walk(q, locals, owners)
      case NamedArg(_, rhs) => walk(rhs, locals, owners)
      case Literal(Constant(s: String)) => out ++= word.findAllIn(s).filterNot(owners)
      case _ =>
        val scope = locals ++ binders(t).map(_.decoded)
        val own = t match {
          case d: DefDef => owners + d.name.decoded
          case d: ImplDef => owners + d.name.decoded
          case _ => owners
        }
        t.children.foreach(walk(_, scope, own))
    }
    walk(t, Set.empty, Set.empty)
    out.toSet
  }
}
