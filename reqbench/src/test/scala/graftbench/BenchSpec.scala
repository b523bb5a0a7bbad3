package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphOps
import graft.model.MatrixCodec

/** Runs from the repository root (see build.sbt). */
class BenchSpec extends AnyFunSuite {

  private def script(p: Plan): Seq[String] =
    (p.warm ++ p.timed).flatten.flatMap(_.scriptLines) ++
      p.seeded.flatMap { case (g, o, t) => Seq(g, o.toString) ++ t.matrixLines }

  test("the same seed gives the same request stream, another seed another") {
    for (spec <- WorkloadSpec.all) {
      val a = script(Plan.generate(spec, 7, 300))
      assert(a == script(Plan.generate(spec, 7, 300)), spec.name)
      assert(a != script(Plan.generate(spec, 8, 300)), spec.name)
      assert(a != script(Plan.generate(spec, 7, 300, Plan.HeldOutFamily)), spec.name)
    }
  }

  test("a seed relabels vertices: same ops, graphs and BFS depths") {
    def shape(p: Plan) = {
      val current = scala.collection.mutable.HashMap.empty[String, Tree]
      p.seeded.foreach { case (g, _, t) => current(g) = t }
      p.timed.flatten.map {
        case w: Write => current(w.graph) = w.tree; (w.op, w.graph, w.tree.n)
        case r: Read => (r.op, r.graph, Oracle.levels(current(r.graph), r.start))
      }
    }
    for (spec <- WorkloadSpec.all)
      assert(shape(Plan.generate(spec, 7, 200)) == shape(Plan.generate(spec, 8, 200)))
  }

  test("job-interval coverage counts overlaps once and clips to the window") {
    assert(Trace.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    assert(Trace.coveredMs(Nil, 0L, 10L) == 0L)
  }

  test("generated trees are trees and the stream has the workload's mix") {
    for (spec <- WorkloadSpec.all) {
      val p = Plan.generate(spec, 3, 200)
      val trees = p.seeded.map(_._3) ++ p.timed.flatten.collect { case w: Write => w.tree }
      trees.foreach { t =>
        assert(t.edges.size == t.n - 1)
        assert(Oracle.bfsLevels(t, 1).size == t.n, "connected")
        assert(t.n >= WorkloadSpec.MinN && t.n <= WorkloadSpec.MaxN)
      }
      for (stream <- p.timed; block <- stream.grouped(spec.block) if block.size == spec.block)
        assert(block.count(_.isWrite) == math.round(spec.writeShare * spec.block), spec.name)
    }
  }

  private val goldens: Seq[Tree] =
    new String(Files.readAllBytes(Paths.get("src/test/resources/docx_trees.txt")), "UTF-8")
      .split("---").map(_.trim).filter(_.nonEmpty).toSeq.map { text =>
        val (n, edges) = MatrixCodec.parseMatrixText(text)
        Tree(n, edges.collect { case (a, b) if a < b => (a.toInt, b.toInt) }.toVector)
      }

  test("the oracle meets the BFS and DFS invariants on all 13 docx trees") {
    assert(goldens.map(_.n).sorted == Seq(4, 4, 4, 4, 5, 6, 7, 8, 20, 20, 20, 20, 20))
    for (t <- goldens; s <- 1 to t.n) {
      val level = Oracle.bfsLevels(t, s).toMap
      assert(level.size == t.n && level(s.toLong) == 0L)
      t.edges.foreach { case (a, b) => assert(math.abs(level(a.toLong) - level(b.toLong)) == 1) }
      val degree = t.edges.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).view.mapValues(_.size)
      assert(Oracle.leaves(t, s).toSet == degree.filter(_._2 == 1).keySet.map(_.toLong) - s)
    }
  }

  test("the oracle agrees row for row with GraphOps on the docx trees") {
    val spark = SparkSession.builder().master("local[2]").appName("reqbench-test")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      for (t <- goldens) {
        val edges = MatrixCodec.edgesDF(spark, MatrixCodec.parseMatrixText(t.matrixLines.mkString("\n"))._2)
        val bfs = GraphOps.bfsLevels(edges, 1L).collect().map(r => (r.getLong(0), r.getLong(1))).toVector
        assert(bfs == Oracle.bfsLevels(t, 1))
        assert(GraphOps.dfsLeaves(edges, 1L).collect().map(_.getLong(0)).toVector == Oracle.leaves(t, 1))
      }
    } finally spark.stop()
  }

  test("every metric the benchmark emits is declared in BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("BENCHMARK.json")))
    def names(key: String) = spec.get(key).elements().asScala.map(_.get("name").asText).toSeq
    assert(Main.EndToEndMetrics.sorted == names("end_to_end").sorted)
    assert(Main.PerLayerMetrics.sorted == names("per_layer").sorted)
    (Main.EndToEndMetrics ++ Main.PerLayerMetrics).foreach(n =>
      assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
  }
}
