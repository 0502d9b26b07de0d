package graft.perfbench

/** Driver-side reference search, used only by the output checks. The
  * cosine loop is graft_cosine's (float components widened to double,
  * accumulated in index order), so scores are bit-identical and ties
  * break by id as graft_topk breaks them. */
object Exact {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Spark's `round(x, 4)` (half-up on the decimal form of the double). */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact top-k of `q` over `items` as (id, score rounded to 4 dp), best
    * first, ties by ascending id. */
  def topK(q: Array[Float], items: Iterable[(Long, Array[Float])], k: Int): Seq[(Long, Double)] = {
    val ord = Ordering.by[(Long, Double), (Double, Long)] { case (id, s) => (-s, id) }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)
    items.foreach { case (id, v) =>
      val s = cosine(q, v)
      if (heap.size < k) heap.enqueue(id -> s)
      else if (ord.lt((id, s), heap.head)) { heap.dequeue(); heap.enqueue(id -> s) }
    }
    heap.dequeueAll[(Long, Double)].reverse.map { case (id, s) => id -> round4(s) }
  }

  /** Share of `exact`'s ids that `got` also returned. */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.size
}
