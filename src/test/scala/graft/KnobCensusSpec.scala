package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.StoreReporter

/** The program's environment surface, read from the main sources: every
  * env var a main or operator reads, no stdout writes from library code
  * (Bench's stdout carries exactly one JSON line), no session function
  * registry, no default arguments, and no library member that only tests
  * reach.
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
    val graph = Census.UseGraph(main.flatMap(Census.memberUses))
    val fromEntries = graph.reach(roots)
    val unreached = graph.defined -- graph.reach(roots ++ testOnly.keySet)
    assert(unreached.isEmpty,
      s"members no entry point reaches: ${unreached.toSeq.sorted.mkString(", ")}")
    // the allowlist cannot rot: each entry still exists, is still not
    // reached from an entry point, and has a test caller
    val usedInTest = test.flatMap(Census.uses).toSet
    val rotten = testOnly.keys.toSeq.sorted.flatMap { q =>
      if (!graph.defined(q)) Some(s"$q is not defined")
      else if (fromEntries(q)) Some(s"$q is reached from an entry point")
      else if (!usedInTest(q.split('.').last)) Some(s"$q has no caller in src/test")
      else None
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

  test("library defs declare no default arguments") {
    val defaulted = sources(root).flatMap { case (p, src) => Census.defaulted(Census.parse(p, src)) }
    if (defaulted.nonEmpty)
      fail(s"${defaulted.size} defaulted parameters: ${defaulted.sorted.mkString(", ")}")
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
  *  - A member is REACHED from the entry points when the own code of a
  *    reached member uses its name ([[UseGraph]]); a cluster of members
  *    that only name each other stays unreached.
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

  private def isMember(t: Tree): Boolean = t match {
    case d: ImplDef => counted(d)
    case d: ValOrDefDef => counted(d)
    case _ => false
  }

  /** Every member, nested ones under their owner, as (qualified name,
    * name, the names its own code uses). A def's or val's own code is its
    * whole tree. A template's own code is what its body holds besides its
    * members: overrides, constructor fields and statements. So reaching an
    * object reaches none of its members by itself.
    */
  def memberUses(t: Tree): Seq[(String, String, Set[String])] = {
    def in(prefix: String, owners: Set[String], t: Tree): Seq[(String, String, Set[String])] =
      t match {
        case PackageDef(_, stats) => stats.flatMap(in(prefix, owners, _))
        case d: ImplDef if counted(d) =>
          val q = prefix + d.name.decoded
          val own = owners + d.name.decoded
          val (nested, code) = d.impl.body.partition(isMember)
          val locals = binders(d).map(_.decoded).toSet
          (q, d.name.decoded, (d.impl.parents ++ code).flatMap(usesIn(_, locals, own)).toSet) +:
            nested.flatMap(in(q + ".", own, _))
        case d: ValOrDefDef if counted(d) =>
          Seq((prefix + d.name.decoded, d.name.decoded, usesIn(d, Set.empty, owners)))
        case _ => Nil
      }
    in("", Set.empty, t)
  }

  /** Members joined by use edges: a member is reached when a reached
    * member's own code names it (by simple name, so a use reaches every
    * member of that name).
    */
  final case class UseGraph(nodes: Seq[(String, String, Set[String])]) {
    val defined: Set[String] = nodes.map(_._1).toSet
    private val byName = nodes.groupMap(_._2)(_._1)
    private val usesOf = nodes.groupMapReduce(_._1)(_._3)(_ ++ _)

    def reach(start: Set[String]): Set[String] = {
      val seen = mutable.Set.empty[String] ++ start
      val queue = mutable.Queue.empty[String] ++ start
      while (queue.nonEmpty)
        for (n <- usesOf.getOrElse(queue.dequeue(), Set.empty); q <- byName.getOrElse(n, Nil))
          if (seen.add(q)) queue += q
      seen.toSet
    }
  }

  /** `Owner.def(param)` for every parameter of a def or class constructor
    * that declares a default value.
    */
  def defaulted(t: Tree): Seq[String] = {
    def in(prefix: String, t: Tree): Seq[String] = t match {
      case d: ImplDef => d.impl.body.flatMap(in(prefix + d.name.decoded + ".", _))
      case d: DefDef =>
        val name = if (d.name == nme.CONSTRUCTOR) prefix.stripSuffix(".") else prefix + d.name.decoded
        d.vparamss.flatten.collect { case p if p.mods.hasDefault => s"$name(${p.name.decoded})" } ++
          in(name + ".", d.rhs)
      case _ => t.children.flatMap(in(prefix, _))
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

  def uses(t: Tree): Set[String] = usesIn(t, Set.empty, Set.empty)

  private def usesIn(t: Tree, locals0: Set[String], owners0: Set[String]): Set[String] = {
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
    walk(t, locals0, owners0)
    out.toSet
  }
}
