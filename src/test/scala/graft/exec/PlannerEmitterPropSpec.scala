package graft.exec

import graft.analyze.Compiler
import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.util.Random

/** Randomized three-formulation consistency: for generated projects, the
  * DataFrame planner, the emitted reference-shape SQL (CTE chains with
  * LEFT JOIN lookups and LATERAL many-joins), and the materialized-hub
  * mode must all produce identical rows.
  *
  * Projects are generated over a random source TREE (each new source
  * relates to one earlier source), so implicit path inference stays
  * unambiguous by construction: scalar lookups walk toward the root,
  * aggregates (equi and theta) walk away from it.
  *
  * On guarded seeds the last tree edge is keyed on a `unique_flag` rule of
  * the parent with its `_uv_flag` companion, so lookups over it pass
  * through the unique-join guard; `dupKeys` makes some of those keys
  * repeat, which the guard must null out rather than fan out.
  */
class PlannerEmitterPropSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-prop-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def genTables(rnd: Random, names: Seq[String]): Map[String, DataFrame] = {
    import spark.implicits._
    names.map { n =>
      val rows = (0 until (5 + rnd.nextInt(6))).map { i =>
        (i.toLong, rnd.nextInt(6).toLong, s"${n}_${rnd.nextInt(4)}",
          rnd.nextInt(100))
      }
      n -> rows.toDF("id", "v", "s", "amt")
    }.toMap
  }

  /** `guard`: None, or Some(dupKeys) to key the last tree edge on a
    * unique_flag rule of its parent, with repeated keys when `dupKeys`.
    */
  private def genProject(rnd: Random, nSources: Int, guard: Option[Boolean]): Project = {
    val names = (0 until nSources).map(i => s"src$i")
    val attrs = Seq(RawAttr.parse("id long"), RawAttr.parse("v long"),
      RawAttr.parse("s string"), RawAttr.parse("amt int"))
    // tree: source i (>0) relates to a random earlier source (M-1 toward
    // the parent); every third edge is additionally theta-capable
    val guarded = guard.map(_ => nSources - 1)
    val relations = (1 until nSources).map { i =>
      val parent = rnd.nextInt(i)
      val cond =
        if (guarded.contains(i)) "CONCAT('k', [This].v) = [Related].ukey"
        else "[This].v = [Related].id"
      RelationDef(s"[src$i]- r$i -[src$parent]", cond, Cardinality.ManyOne)
    }
    val thetaRel =
      if (nSources >= 2)
        Seq(RelationDef(s"[src0]- theta -[src1]",
          "[This].id <= [Related].v AND [Related].amt > 20", Cardinality.ManyMany))
      else Nil

    // every tree edge carries hub reads in ONE direction only, else the
    // project has a source cycle (the reference fails identically):
    // Lookup = child reads parent's hub; Aggregate = parent reads child's.
    // The theta relation makes src0 read src1, so src1's tree edge must
    // not be Lookup when its parent chain reaches src0.
    // a guarded edge other than edge 1 is always a Lookup edge, so its
    // child can look up through the guard
    val lookupEdge: Map[Int, Boolean] = (1 until nSources).map { i =>
      i -> (if (i == 1 && thetaRel.nonEmpty) false else rnd.nextBoolean())
    }.toMap ++ guarded.filter(_ != 1).map(_ -> true)
    val parentOf: Map[Int, Int] = relations.map(r =>
      r.sourceName.drop(3).toInt -> r.relatedName.drop(3).toInt).toMap

    def lookupAncestors(i: Int): Seq[Int] = {
      // ancestors reachable through consecutive Lookup-direction edges
      val out = Vector.newBuilder[Int]
      var at = i
      while (parentOf.contains(at) && lookupEdge(at)) {
        out += parentOf(at)
        at = parentOf(at)
      }
      out.result()
    }

    val sources = names.zipWithIndex.map { case (n, i) =>
      var rules = Vector.empty[RuleDef]
      // arithmetic rule + rule-on-rule
      rules :+= RuleDef(s"dbl", "[This].v * 2")
      if (rnd.nextBoolean()) rules :+= RuleDef(s"dbl2", "[This].dbl + 1")
      // scalar lookup into a random Lookup-direction ancestor
      val ancestors = lookupAncestors(i)
      if (ancestors.nonEmpty && rnd.nextBoolean()) {
        val a = ancestors(rnd.nextInt(ancestors.size))
        rules :+= RuleDef(s"anc_s", s"[src$a].s")
      }
      // aggregate over a random direct Aggregate-direction child; explicit
      // path because the theta relation can make src0<->src1 ambiguous
      val children = relations.collect {
        case r if r.relatedName == n && !lookupEdge(r.sourceName.drop(3).toInt) =>
          (r.sourceName, r.name)
      }
      if (children.nonEmpty && rnd.nextBoolean()) {
        val (c, relName) = children(rnd.nextInt(children.size))
        val ps = Seq(ParamSpec(c, Seq(relName)))
        rules :+= RuleDef(s"child_sum", s"sum([$c].v)", parameters = ps)
        rules :+= RuleDef(s"child_cnt", s"count([$c].id)", parameters = ps)
      }
      // theta aggregate on src0 (falls back to the tagged join; the
      // emitter keeps the reference lateral form)
      if (i == 0 && thetaRel.nonEmpty)
        rules :+= RuleDef("theta_cnt", "count([src1].id)",
          parameters = Seq(ParamSpec("src1", Seq("[src0]- theta -[src1]"))))
      // the guarded edge: its parent carries the unique key and companion,
      // its child (on a Lookup edge) looks up through it
      guarded.foreach { g =>
        val rel = relations(g - 1)
        if (rel.relatedName == n) {
          val key = if (guard.get) "[This].id DIV 2" else "[This].id"
          rules :+= RuleDef("ukey", s"CONCAT('k', $key)", uniqueFlag = true)
          rules :+= RuleDef("ukey_uv_flag", "count(1) OVER (PARTITION BY [This].ukey) = 1")
        }
        if (rel.sourceName == n && lookupEdge(g))
          rules :+= RuleDef("u_s", s"[${rel.relatedName}].s",
            parameters = Seq(ParamSpec(rel.relatedName, Seq(rel.name))))
      }
      SourceDef(n, n, attrs, rules)
    }

    val outSrc = names(rnd.nextInt(names.size))
    val output = OutputDef("out",
      Seq(OutputCol.parse("k string"), OutputCol.parse("total long")),
      Seq(Channel(outSrc,
        Seq(Mapping.parse("s k"), Mapping.parse("sum(dbl) total")),
        filter = Some("[This].v >= 0"),
        operationType = OperationType.Aggregate)))

    Project(sources, relations ++ thetaRel, Seq(output))
  }

  test("planner == emitted SQL == materialized mode on random projects") {
    var guardedDupLookups = 0
    (1 to 12).foreach { seed =>
      val rnd = new Random(seed)
      val guard = if (seed % 3 != 0) Some(seed % 2 == 0) else None
      val p = genProject(rnd, 2 + rnd.nextInt(3), guard)
      if (guard.contains(true) && p.sources.exists(_.rules.exists(_.name == "u_s")))
        guardedDupLookups += 1
      val tables = genTables(rnd, p.sources.map(_.name))
      val cp = new Compiler(p).compile()
      val emitter = new SqlEmitter(cp)
      tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }

      val lazyRunner = new Runner(cp, s => tables(s.sourceTable))
      val matDir = java.nio.file.Files.createTempDirectory(s"graftprop$seed").toString
      val matRunner = new Runner(cp, s => tables(s.sourceTable),
        materializeDir = Some(matDir))

      cp.sources.foreach { cs =>
        val name = cs.source.name
        val viaSql = spark.sql(emitter.sourceSql(name, s => s.sourceTable))
        val sqlRows = viaSql.collect()
        spark.createDataFrame(java.util.Arrays.asList(sqlRows: _*), viaSql.schema)
          .createOrReplaceTempView("hub_" + name)
        val a = sqlRows.map(_.toString).sorted.toSeq
        val b = lazyRunner.hub(name).collect().map(_.toString).sorted.toSeq
        val c = matRunner.hub(name).collect().map(_.toString).sorted.toSeq
        assert(a == b, s"seed $seed source $name: emitted SQL != lazy planner")
        assert(b == c, s"seed $seed source $name: lazy != materialized")
      }
      val viaSql = spark.sql(emitter.outputSql("out"))
      val viaPlanner = lazyRunner.output("out")
      assert(viaSql.exceptAll(viaPlanner).count() == 0 &&
        viaPlanner.exceptAll(viaSql).count() == 0,
        s"seed $seed: output diverges between emitted SQL and planner")

      // generated ids are unique and the keyed edge is guarded, so no *-1
      // relation fans out: pruned and full hubs audit the same
      val full = RelationAudit.audit(cp, lazyRunner.hub).collect().map(_.toString).sorted.toSeq
      val pruned = RelationAudit.auditPruned(cp, lazyRunner).collect().map(_.toString).sorted.toSeq
      assert(full == pruned, s"seed $seed: pruned audit != full audit")
    }
    assert(guardedDupLookups > 0, "no seed looks up through a guard over repeated keys")
  }
}
