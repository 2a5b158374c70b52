package graft.analyze

import graft.core._
import graft.SampleProject
import org.scalatest.funsuite.AnyFunSuite

class CompilerSpec extends AnyFunSuite {

  private lazy val cp = new Compiler(SampleProject.project).compile()

  test("sample project compiles") {
    assert(cp.sources.size == 7)
    assert(cp.outputs.size == 3)
  }

  test("sources are topologically ordered") {
    val order = cp.sources.map(_.source.name)
    def before(a: String, b: String) = order.indexOf(a) < order.indexOf(b)
    assert(before("tpch_region", "tpch_lineitem"))
    assert(before("tpch_orders", "tpch_customer")) // customer aggregates over orders
    assert(before("tpch_customer", "tpch_lineitem"))
    assert(before("tpch_supplier", "tpch_nation")) // nation aggregates over supplier
  }

  test("rule-on-rule ordering within a source") {
    val li = cp.compiledSource("tpch_lineitem")
    val order = li.rules.map(_.name)
    assert(order.indexOf("net_price") < order.indexOf("net_price_no_returns"))
  }

  test("aggregate spans get their relation paths") {
    val cust = cp.compiledSource("tpch_customer")
    val avg = cust.rules.find(_.name == "avg_order_value").get
    assert(avg.aggPaths.size == 2)
    assert(avg.aggPaths.forall(_.head.relation.name == "[tpch_orders]- custkey -[tpch_customer]"))
  }

  test("rule cycle detection") {
    val src = SourceDef("s", "t", Seq(RawAttr.parse("x int")),
      rules = Seq(
        RuleDef("a", "[This].b + 1"),
        RuleDef("b", "[This].a + 1")))
    val e = intercept[CompileError](new Compiler(Project(Seq(src))).compile())
    assert(e.message.contains("Circular dependency in rules"))
  }

  test("self-reference rejected") {
    val src = SourceDef("s", "t", Seq(RawAttr.parse("x int")),
      rules = Seq(RuleDef("a", "[This].a + 1")))
    val e = intercept[CompileError](new Compiler(Project(Seq(src))).compile())
    assert(e.message.contains("references itself"))
  }

  test("aggregate over [This] rejected") {
    val src = SourceDef("s", "t", Seq(RawAttr.parse("x int")),
      rules = Seq(RuleDef("a", "sum([This].x)")))
    val e = intercept[CompileError](new Compiler(Project(Seq(src))).compile())
    assert(e.message.contains("not allowed on [This]"))
  }

  test("mixed paths in one aggregate rejected") {
    val a = SourceDef("a", "a", Seq(RawAttr.parse("id int")))
    val b = SourceDef("b", "b", Seq(RawAttr.parse("id int"), RawAttr.parse("v int")))
    val c = SourceDef("c", "c", Seq(RawAttr.parse("id int"), RawAttr.parse("w int")),
      rules = Seq(RuleDef("m", "sum([a].id + [b].v)")))
    val rels = Seq(
      RelationDef("[c]- x -[a]", "[This].id = [Related].id", Cardinality.OneMany),
      RelationDef("[c]- y -[b]", "[This].id = [Related].id", Cardinality.OneMany))
    val e = intercept[CompileError](new Compiler(Project(Seq(a, b, c), rels)).compile())
    assert(e.message.contains("single relation path"))
  }

  test("unknown attribute rejected with reference-style message") {
    val src = SourceDef("s", "t", Seq(RawAttr.parse("x int")),
      rules = Seq(RuleDef("a", "[This].nope + 1")))
    val e = intercept[CompileError](new Compiler(Project(Seq(src))).compile())
    assert(e.message.contains("does not exist in source"))
  }

  test("unknown source in expression rejected") {
    val src = SourceDef("s", "t", Seq(RawAttr.parse("x int")),
      rules = Seq(RuleDef("a", "[ghost].x")))
    val e = intercept[CompileError](new Compiler(Project(Seq(src))).compile())
    assert(e.message.contains("does not exist"))
  }

  test("relation params restricted to This/Related") {
    val a = SourceDef("a", "a", Seq(RawAttr.parse("id int")))
    val b = SourceDef("b", "b", Seq(RawAttr.parse("id int")))
    val rels = Seq(RelationDef("[a]- r -[b]", "[a].id = [Related].id", Cardinality.ManyOne))
    val e = intercept[CompileError](new Compiler(Project(Seq(a, b), rels)).compile())
    assert(e.message.contains("must be [This] or [Related]"))
  }

  test("source-level circular dependency detected") {
    val a = SourceDef("a", "a", Seq(RawAttr.parse("id int")),
      rules = Seq(RuleDef("fromb", "[b].id")))
    val b = SourceDef("b", "b", Seq(RawAttr.parse("id int")),
      rules = Seq(RuleDef("froma", "[a].id")))
    val rels = Seq(
      RelationDef("[a]- r1 -[b]", "[This].id = [Related].id", Cardinality.ManyOne),
      RelationDef("[b]- r2 -[a]", "[This].id = [Related].id", Cardinality.ManyOne))
    val e = intercept[CompileError](new Compiler(Project(Seq(a, b), rels)).compile())
    assert(e.message.contains("Circular dependencies in sources"))
  }

  test("output filter must use [This]") {
    val src = SourceDef("s", "t", Seq(RawAttr.parse("x int")))
    val out = OutputDef("o", Seq(OutputCol.parse("x int")),
      Seq(Channel("s", Seq(Mapping.parse("x x")), filter = Some("[other].x > 1"))))
    val e = intercept[CompileError](new Compiler(Project(Seq(src), Nil, Seq(out))).compile())
    assert(e.message.contains("[This]"))
  }

  test("output mapping against unknown attribute rejected") {
    val src = SourceDef("s", "t", Seq(RawAttr.parse("x int")))
    val out = OutputDef("o", Seq(OutputCol.parse("x int")),
      Seq(Channel("s", Seq(Mapping.parse("nope x")))))
    val e = intercept[CompileError](new Compiler(Project(Seq(src), Nil, Seq(out))).compile())
    assert(e.message.contains("does not exist"))
  }

  // fact -> dim is keyed on unique rules at both ends; only dim declares
  // the `_uv_flag` companion. emp relates to itself.
  private lazy val bound = new Compiler(Project(
    Seq(
      SourceDef("fact", "fact", Seq(RawAttr.parse("dim_ref int")),
        rules = Seq(RuleDef("fact_key", "CONCAT('k', [This].dim_ref)", uniqueFlag = true))),
      SourceDef("dim", "dim", Seq(RawAttr.parse("dim_id int")),
        rules = Seq(
          RuleDef("key", "CONCAT('k', [This].dim_id)", uniqueFlag = true),
          RuleDef("key_uv_flag", "count(1) OVER (PARTITION BY [This].key) = 1"))),
      SourceDef("emp", "emp", Seq(RawAttr.parse("emp_id int"), RawAttr.parse("mgr_id int")),
        rules = Seq(
          RuleDef("ekey", "[This].emp_id", uniqueFlag = true),
          RuleDef("ekey_uv_flag", "count(1) OVER (PARTITION BY [This].ekey) = 1"),
          RuleDef("meta", "named_struct('lvl', [This].emp_id)")))),
    Seq(
      RelationDef("[fact]- key -[dim]", "[This].fact_key = [Related].key", Cardinality.ManyOne),
      RelationDef("[emp]- mgr -[emp]", "[This].mgr_id = [Related].ekey AND [Related].meta.lvl > 0",
        Cardinality.ManyOne)))).compile()
  private def near(a: String) = s"n.$a"
  private def far(a: String) = s"f.$a"

  test("forward hop: [This] binds the near side, [Related] the guarded far side") {
    val rel = bound.relations("[fact]- key -[dim]")
    val hop = Hop(rel.relation, reverse = false)
    assert(rel.forward == hop)
    assert(Seq(0, 1).map(rel.sourceOf) == Seq("fact", "dim"))
    assert(Seq(0, 1).map(rel.bindsFar(_, hop)) == Seq(false, true))
    assert(rel.guards(hop, bound.project) == Seq("key_uv_flag"))
    assert(rel.joinCondition(hop, bound.project, near, far) ==
      "(n.fact_key = f.key) AND f.key_uv_flag")
  }

  test("reverse hop flips the sides; a far key without its companion is an error") {
    val rel = bound.relations("[fact]- key -[dim]")
    val hop = Hop(rel.relation, reverse = true)
    assert(Seq(0, 1).map(rel.sourceOf) == Seq("fact", "dim"))
    assert(Seq(0, 1).map(rel.bindsFar(_, hop)) == Seq(true, false))
    assert(rel.guards(hop, bound.project) == Seq("fact_key_uv_flag"))
    assert(rel.render(hop, near, far) == "f.fact_key = n.key")
    val e = intercept[CompileError](rel.joinCondition(hop, bound.project, near, far))
    assert(e.message == "Uniqueness validation enrichment is missing or inactive for rule " +
      "'fact_key' referenced in relation '[fact]- key -[dim]'")
  }

  test("self hop: both sides read this source, [Related] binds the far snapshot") {
    val rel = bound.relations("[emp]- mgr -[emp]")
    val hop = Hop(rel.relation, reverse = false)
    assert(Seq(0, 1, 2).map(rel.sourceOf) == Seq("emp", "emp", "emp"))
    assert(Seq(0, 1, 2).map(rel.bindsFar(_, hop)) == Seq(false, true, true))
    assert(rel.guards(hop, bound.project) == Seq("ekey_uv_flag"))
    assert(rel.joinCondition(hop, bound.project, near, far) ==
      "(n.mgr_id = f.ekey AND f.meta.`lvl` > 0) AND f.ekey_uv_flag")
  }
}
