package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, collect_list, explode, struct, udf}

import scala.reflect.runtime.universe.TypeTag

/** Bounded-graph kernel for the iterative backbone queries (label
  * propagation, integer power iteration, truncated multi-source BFS,
  * k-core peeling). Their inputs are capped edge lists (the co-purchase
  * backbone's `limit(5000)`, q239's top-5000 supply pairs), so instead of
  * one Spark job per round (driver loop + `localCheckpoint`, a fixed
  * scheduler cost at any scale factor) the whole edge list packs into ONE
  * row with a global `collect_list(struct(u, v))` and every round runs as
  * plain loops inside a single task; the result rows come back out with
  * `explode`. The arithmetic is the same integer / IEEE formula as each
  * query's DuckDB twin, and every sum is over integers (or over terms
  * quantized before the sum), so the edge order `collect_list` happens to
  * see cannot surface in the output. */
object BackboneGraph {

  /** Undirected CSR adjacency: node index `i` (ids ascending) has the
    * neighbour indices `nbr(off(i) until off(i + 1))`. An edge listed
    * twice is kept twice, exactly as the doubled edge-list joins of the
    * relational form count it. */
  final class Csr(val ids: Array[Long], val off: Array[Int], val nbr: Array[Int]) {
    def n: Int = ids.length
    def deg(i: Int): Int = off(i + 1) - off(i)

    /** Node indices ranked by (degree DESC, id ASC), the first `k`. */
    def topDegree(k: Int): Array[Int] =
      (0 until n).sortBy(i => (-deg(i), i)).take(k).toArray
  }

  object Csr {
    def apply(us: Array[Long], vs: Array[Long]): Csr = {
      val ids = (us ++ vs).distinct.sorted
      val ui = us.map(java.util.Arrays.binarySearch(ids, _))
      val vi = vs.map(java.util.Arrays.binarySearch(ids, _))
      val off = new Array[Int](ids.length + 1)
      for (k <- ui.indices) { off(ui(k) + 1) += 1; off(vi(k) + 1) += 1 }
      for (i <- ids.indices) off(i + 1) += off(i)
      val fill = off.clone()
      val nbr = new Array[Int](2 * ui.length)
      for (k <- ui.indices) {
        nbr(fill(ui(k))) = vi(k); fill(ui(k)) += 1
        nbr(fill(vi(k))) = ui(k); fill(vi(k)) += 1
      }
      new Csr(ids, off, nbr)
    }
  }

  /** Runs `f` on the whole `(u, v)` edge list of `edges` in one task and
    * returns its rows as a frame with columns `names`. */
  def run[T <: Product: TypeTag](edges: DataFrame, names: String*)(
      f: (Array[Long], Array[Long]) => Seq[T]): DataFrame = {
    val kernel = udf((us: Seq[Long], vs: Seq[Long]) => f(us.toArray, vs.toArray))
    edges.agg(collect_list(struct(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))).as("es"))
      .select(explode(kernel(col("es.u"), col("es.v"))).as("r"))
      .select(col("r.*")).toDF(names: _*)
  }

  /** [[run]] over the undirected adjacency of the edge list. */
  def runCsr[T <: Product: TypeTag](edges: DataFrame, names: String*)(
      f: Csr => Seq[T]): DataFrame =
    run(edges, names: _*)((us, vs) => f(Csr(us, vs)))

  /** `rounds` SYNCHRONOUS label-propagation rounds from "every node is its
    * own label": each node adopts its most frequent neighbour label,
    * ties to the smallest label. Returns label node indices (ids are
    * ascending, so the smallest index is the smallest id). */
  def labelPropagation(g: Csr, rounds: Int): Array[Int] = {
    var lab = Array.tabulate(g.n)(identity)
    val cnt = new Array[Int](g.n)
    for (_ <- 1 to rounds) {
      val next = new Array[Int](g.n)
      for (i <- 0 until g.n) {
        var best = -1
        for (k <- g.off(i) until g.off(i + 1)) cnt(lab(g.nbr(k))) += 1
        for (k <- g.off(i) until g.off(i + 1)) {
          val l = lab(g.nbr(k))
          if (best < 0 || cnt(l) > cnt(best) || (cnt(l) == cnt(best) && l < best))
            best = l
        }
        for (k <- g.off(i) until g.off(i + 1)) cnt(lab(g.nbr(k))) = 0
        next(i) = best
      }
      lab = next
    }
    lab
  }

  /** Breadth-first search from `seed`, truncated at `hops`: per node the
    * hop distance (-1 = not reached) and σ, the number of shortest
    * paths from the seed (the sum of σ over the previous layer's
    * neighbours). */
  def bfs(g: Csr, seed: Int, hops: Int): (Array[Int], Array[Long]) = {
    val dist = Array.fill(g.n)(-1)
    val sigma = new Array[Long](g.n)
    dist(seed) = 0
    sigma(seed) = 1L
    var layer = Array(seed)
    for (d <- 1 to hops) {
      val next = Array.newBuilder[Int]
      for (v <- layer; k <- g.off(v) until g.off(v + 1)) {
        val w = g.nbr(k)
        if (dist(w) < 0) { dist(w) = d; next += w }
        if (dist(w) == d) sigma(w) += sigma(v)
      }
      layer = next.result()
    }
    (dist, sigma)
  }
}
