package graft.core

/** Result paging with FETCH_NEXT / FETCH_PRIOR / FETCH_FIRST and
  * absolute repositioning, mirroring the reference gateway's fetch
  * contract (kyuubi-common/.../operation/FetchIterator.scala:23-128):
  *
  *  - `fetchNext()` advances the window to start at the current
  *    position;
  *  - `fetchAbsolute(pos)` / `fetchPrior(n)` reposition (clamped);
  *  - `getFetchStart` / `getPosition` expose the window bounds;
  *  - `fetch(orientation, max)` is the one paging step every wire runs.
  *
  * Two implementations: over a fully-materialized array (collect /
  * bounded collect results) and over a one-shot iterator (incremental
  * collect via `toLocalIterator`), where backward repositioning is
  * supported only to offsets not yet consumed-past.
  */
trait FetchIterator[A] extends Iterator[A] {
  /** Begin a fetch block starting at the current position. */
  def fetchNext(): Unit

  /** Reposition so the next fetch block starts at `pos` (clamped to
    * what the underlying cursor can reach).
    */
  def fetchAbsolute(pos: Long): Unit

  def fetchPrior(offset: Long): Unit = fetchAbsolute(getFetchStart - offset)

  /** Start offset of the current fetch block. */
  def getFetchStart: Long

  /** Current cursor offset (rows consumed so far). */
  def getPosition: Long

  /** Reposition for `orientation`, then take up to `max` rows. */
  def fetch(orientation: FetchOrientation, max: Int): Seq[A] = {
    orientation match {
      case FetchOrientation.Next => fetchNext()
      case FetchOrientation.Prior => fetchPrior(max)
      case FetchOrientation.First => fetchAbsolute(0)
      case FetchOrientation.Absolute(pos) => fetchAbsolute(pos)
    }
    take(max).toVector
  }
}

/** Where a fetch block starts: the reference's FETCH_NEXT / FETCH_PRIOR /
  * FETCH_FIRST orientations plus an absolute row offset.
  */
sealed trait FetchOrientation
object FetchOrientation {
  case object Next extends FetchOrientation
  case object Prior extends FetchOrientation
  case object First extends FetchOrientation
  final case class Absolute(offset: Long) extends FetchOrientation
}

class ArrayFetchIterator[A](src: Array[A]) extends FetchIterator[A] {
  private var fetchStart: Long = 0
  private var position: Long = 0

  override def fetchNext(): Unit = fetchStart = position

  override def fetchAbsolute(pos: Long): Unit = {
    val p = math.max(0L, math.min(pos, src.length.toLong))
    fetchStart = p
    position = p
  }

  override def getFetchStart: Long = fetchStart
  override def getPosition: Long = position
  override def hasNext: Boolean = position < src.length
  override def next(): A = {
    val v = src(position.toInt)
    position += 1
    v
  }
}

class IterableFetchIterator[A](iterable: Iterable[A]) extends FetchIterator[A] {
  private var iter: Iterator[A] = iterable.iterator
  private var fetchStart: Long = 0
  private var position: Long = 0

  override def fetchNext(): Unit = fetchStart = position

  /** Repositioning backwards re-creates the iterator (cheap for cached
    * iterables; for a live `toLocalIterator` the session layer caps
    * this by wrapping the consumed prefix — see ExecuteStatement).
    */
  override def fetchAbsolute(pos: Long): Unit = {
    val target = math.max(0L, pos)
    if (target < position) {
      iter = iterable.iterator
      position = 0
    }
    while (position < target && iter.hasNext) { iter.next(); position += 1 }
    fetchStart = position
  }

  override def getFetchStart: Long = fetchStart
  override def getPosition: Long = position
  override def hasNext: Boolean = iter.hasNext
  override def next(): A = {
    val v = iter.next()
    position += 1
    v
  }
}
