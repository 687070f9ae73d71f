package graft.sources.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.scalatest.funsuite.AnyFunSuite

/** [[PositionSkipReader]] over an in-memory file whose row at position
  * `p` holds the value `p`: the surviving values are exactly the
  * positions the skip set does not name. */
class PositionSkipReaderSpec extends AnyFunSuite {

  private val rows = 6L

  private final class FileReader(n: Long) extends PartitionReader[InternalRow] {
    private var pos = -1L
    var closed = false
    override def next(): Boolean = { pos += 1; pos < n }
    override def get(): InternalRow = InternalRow(pos)
    override def close(): Unit = closed = true
  }

  private def survivors(skip: Long*): Seq[Long] = {
    val file = new FileReader(rows)
    val r = new PositionSkipReader(file, skip.toArray)
    val out = Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().getLong(0)).toList
    assert(!r.next(), "an exhausted reader must stay exhausted")
    r.close()
    assert(file.closed, "close must reach the wrapped reader")
    out
  }

  test("an empty skip set passes every row") {
    assert(survivors() == (0L until rows))
  }

  test("position 0 skips the first row") {
    assert(survivors(0L) == (1L until rows))
  }

  test("the last position skips the last row") {
    assert(survivors(rows - 1) == (0L until rows - 1))
  }

  test("consecutive positions skip a run, at the start, middle and end") {
    assert(survivors(0L, 1L, 2L) == Seq(3L, 4L, 5L))
    assert(survivors(2L, 3L) == Seq(0L, 1L, 4L, 5L))
    assert(survivors(3L, 4L, 5L) == Seq(0L, 1L, 2L))
    assert(survivors((0L until rows): _*) == Seq.empty)
  }

  test("a position past the end of the file skips nothing") {
    assert(survivors(rows) == (0L until rows))
    assert(survivors(1L, rows + 10) == (0L until rows).filterNot(_ == 1L))
  }
}
