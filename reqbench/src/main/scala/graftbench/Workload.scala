package graftbench

import scala.collection.mutable
import scala.util.Random

/** An undirected labelled tree on vertices 1..n, each edge listed once. */
final case class Tree(n: Int, edges: Vector[(Int, Int)]) {

  lazy val adjacency: Array[List[Int]] = {
    val adj = Array.fill(n + 1)(List.empty[Int])
    edges.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    adj
  }

  /** The reference's graph file body: `n`, then n rows of n 0/1 cells
    * (symmetric, as the reference's clients type them).
    */
  def matrixLines: Seq[String] = {
    val cells = Array.ofDim[Int](n, n)
    edges.foreach { case (a, b) => cells(a - 1)(b - 1) = 1; cells(b - 1)(a - 1) = 1 }
    n.toString +: cells.toSeq.map(_.mkString(" "))
  }
}

object Tree {
  /** A uniformly random labelled tree on n >= 2 vertices, decoded from a
    * random Prüfer sequence.
    */
  def random(n: Int, rnd: Random): Tree = {
    require(n >= 2, s"tree needs n >= 2, got $n")
    val prufer = Vector.fill(n - 2)(1 + rnd.nextInt(n))
    val degree = Array.fill(n + 1)(1)
    prufer.foreach(v => degree(v) += 1)
    val edges = Vector.newBuilder[(Int, Int)]
    prufer.foreach { v =>
      val leaf = (1 to n).find(degree(_) == 1).get
      edges += ((math.min(leaf, v), math.max(leaf, v)))
      degree(leaf) -= 1
      degree(v) -= 1
    }
    val Seq(a, b) = (1 to n).filter(degree(_) == 1)
    edges += ((a, b))
    Tree(n, edges.result())
  }
}

/** Pure-Scala answers to ops 3 and 4, in the engine's output order. */
object Oracle {

  /** Op 4: (vertex, level) for every vertex reachable from `start`,
    * ordered by level then vertex.
    */
  def bfsLevels(t: Tree, start: Int): Vector[(Long, Long)] = {
    val level = Array.fill(t.n + 1)(-1)
    level(start) = 0
    val queue = scala.collection.mutable.Queue(start)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      t.adjacency(v).foreach { w =>
        if (level(w) < 0) { level(w) = level(v) + 1; queue.enqueue(w) }
      }
    }
    (1 to t.n).filter(level(_) >= 0)
      .map(v => (v.toLong, level(v).toLong))
      .sortBy { case (v, l) => (l, v) }.toVector
  }

  /** Op 3: the leaves of the tree rooted at `start`, i.e. the degree-1
    * vertices other than the root, ascending.
    */
  def leaves(t: Tree, start: Int): Vector[Long] =
    (1 to t.n).filter(v => v != start && t.adjacency(v).size == 1).map(_.toLong).toVector

  /** Number of BFS levels a traversal from `start` produces. */
  def levels(t: Tree, start: Int): Int = bfsLevels(t, start).last._2.toInt + 1
}

/** One client request. `scriptLines` is its `inp.txt` form: seq_no, op_no
  * and file name on their own lines, then the payload (n and the matrix
  * rows for ops 1/2, the start vertex for ops 3/4).
  */
sealed trait Request {
  def seq: Long
  def op: Int
  def graph: String
  def isWrite: Boolean = op == 1 || op == 2
  def scriptLines: Seq[String] = Seq(seq.toString, op.toString, graph) ++ payloadLines
  protected def payloadLines: Seq[String]
}
final case class Write(seq: Long, op: Int, graph: String, tree: Tree) extends Request {
  protected def payloadLines: Seq[String] = tree.matrixLines
}
final case class Read(seq: Long, op: Int, graph: String, start: Int) extends Request {
  protected def payloadLines: Seq[String] = Seq(start.toString)
}

/** A request workload: how many closed-loop clients, how many graphs each
  * owns at the start, and the request mix. Each graph has one writer, its
  * owner, like the reference's single primary; any client may read it.
  * Every `block` requests of a client's stream hold the exact mix, and a
  * run measures each client's first block.
  */
final case class WorkloadSpec(name: String, clients: Int, graphsPerClient: Int,
                              writeShare: Double, addShare: Double,
                              readOthers: Boolean, block: Int)

object WorkloadSpec {
  /** Smallest and largest tree size; the reference's clients cap n at 30. */
  val MinN = 4
  val MaxN = 30

  val all: Seq[WorkloadSpec] = Seq(
    WorkloadSpec("small_reads", clients = 1, graphsPerClient = 6,
      writeShare = 1.0 / 3, addShare = 0.5, readOthers = false, block = 12),
    WorkloadSpec("mixed_c4", clients = 4, graphsPerClient = 2,
      writeShare = 0.5, addShare = 0.2, readOthers = true, block = 6))

  def apply(name: String): WorkloadSpec = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))
}

/** Everything a run replays. */
final case class Plan(seeded: Vector[(String, Int, Tree)],
                      warm: Vector[Vector[Request]],
                      timed: Vector[Vector[Request]])

object Plan {
  /** The tree family every run replays; a seed only relabels it. */
  val Family = 0L
  /** Held out for confirming a claim made on [[Family]]: change `Family`
    * to this value, rebuild, and run the same seeds again.
    */
  val HeldOutFamily = 1L

  /** The warm pass: two threads each add a six-vertex path of their own,
    * read it, one with op 4 and one with op 3, and modify it. That
    * compiles the plans of all four ops (code generation is shared by all
    * client threads) without the cost of a large tree.
    */
  private val Warm = {
    val path = Tree(6, Vector((1, 2), (2, 3), (3, 4), (4, 5), (5, 6)))
    Vector(4, 3).map { op =>
      val base = 900000 + 10 * op
      Vector(Write(base, 1, s"warm$op", path), Read(base + 1, op, s"warm$op", 1),
        Write(base + 2, 2, s"warm$op", path))
    }
  }

  /** The plan for one run of [[Family]]. A run completes only about ten
    * reads, and a read's cost grows with the depth of its tree from its
    * start vertex, so trees and starts drawn afresh for every seed made
    * the seed, not the code, the main source of spread between runs.
    * Instead the family fixes the trees, the request schedule and each
    * read's start vertex, and `seed` relabels the vertices of every graph:
    * each run sends other matrices and other start vertices that cost the
    * same work.
    */
  def generate(spec: WorkloadSpec, seed: Long, timedPerClient: Int,
               family: Long = Family): Plan =
    relabel(schedule(spec, family, timedPerClient), new Random(seed))

  private def relabel(p: Plan, rnd: Random): Plan = {
    val perms = mutable.HashMap.empty[String, Array[Int]]
    def perm(g: String, n: Int) =
      perms.getOrElseUpdate(g, 0 +: rnd.shuffle((1 to n).toVector).toArray)
    def tree(g: String, t: Tree) = {
      val pi = perm(g, t.n)
      Tree(t.n, t.edges.map { case (a, b) => (math.min(pi(a), pi(b)), math.max(pi(a), pi(b))) })
    }
    val seeded = p.seeded.map { case (g, owner, t) => (g, owner, tree(g, t)) }
    val sizes = mutable.HashMap.empty[String, Int]
    seeded.foreach { case (g, _, t) => sizes(g) = t.n }
    val timed = p.timed.map(_.map {
      case w: Write => sizes(w.graph) = w.tree.n; w.copy(tree = tree(w.graph, w.tree))
      case r: Read => r.copy(start = perm(r.graph, sizes(r.graph))(r.start))
    })
    Plan(seeded, p.warm, timed)
  }

  private def schedule(spec: WorkloadSpec, family: Long, timedPerClient: Int): Plan = {
    val rnd = new Random(spec.name.hashCode * 1000003L + family)
    // Seeded sizes are spread evenly over MinN..MaxN (one random size per
    // stratum); owners are dealt round-robin.
    val total = spec.clients * spec.graphsPerClient
    val span = WorkloadSpec.MaxN - WorkloadSpec.MinN + 1
    val seeded = rnd.shuffle((0 until total).toVector).zipWithIndex.map { case (stratum, i) =>
      val n = WorkloadSpec.MinN + ((stratum + rnd.nextDouble()) * span / total).toInt
      (s"g${i % spec.clients}_${i / spec.clients}", i % spec.clients, Tree.random(n, rnd))
    }
    val timed = Vector.newBuilder[Vector[Request]]
    for (c <- 0 until spec.clients) {
      val crnd = new Random(rnd.nextLong())
      val sizes = mutable.LinkedHashMap.empty[String, Int]
      seeded.foreach { case (g, owner, t) =>
        if (owner == c || spec.readOthers) sizes(g) = t.n }
      val own = mutable.ArrayBuffer(
        seeded.collect { case (g, owner, _) if owner == c => g }: _*)
      var added = 0
      // Reads visit the readable graphs in shuffled rounds, so every stretch
      // of a stream reads each tree size about equally often.
      var round = Iterator.empty[String]
      def read(seq: Long, op: Int): Request = {
        if (!round.hasNext) round = crnd.shuffle(sizes.keys.toVector).iterator
        val g = round.next()
        Read(seq, op, g, 1 + crnd.nextInt(sizes(g)))
      }
      def modify(seq: Long): Request = {
        val g = own(crnd.nextInt(own.size))
        Write(seq, 2, g, Tree.random(sizes(g), crnd))
      }
      val base = (c + 1) * 1000000L
      // Ops come in shuffled blocks with a fixed count of each, so every
      // stretch of a stream has the workload's mix.
      val writes = math.round(spec.writeShare * spec.block).toInt
      val bfs = (spec.block - writes) / 2
      val ops = Iterator.continually(crnd.shuffle(Vector.fill(writes)(2) ++
        Vector.fill(bfs)(4) ++ Vector.fill(spec.block - writes - bfs)(3))).flatten
      timed += Vector.tabulate(timedPerClient) { i =>
        val seq = base + i + 1
        val op = ops.next()
        if (op == 2) {
          if (crnd.nextDouble() < spec.addShare) {
            val g = s"g${c}_a$added"
            added += 1
            val t = Tree.random(drawN(crnd), crnd)
            sizes(g) = t.n
            own += g
            Write(seq, 1, g, t)
          } else modify(seq)
        } else read(seq, op)
      }
    }
    Plan(seeded, Warm, timed.result())
  }

  private def drawN(rnd: Random): Int =
    WorkloadSpec.MinN + rnd.nextInt(WorkloadSpec.MaxN - WorkloadSpec.MinN + 1)
}
