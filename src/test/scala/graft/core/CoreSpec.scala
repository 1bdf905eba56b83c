package graft.core

import org.scalatest.funsuite.AnyFunSuite

class OperationStateSpec extends AnyFunSuite {
  import OperationState._

  test("happy path transitions are legal") {
    validateTransition(Initialized, Pending)
    validateTransition(Pending, Running)
    validateTransition(Running, Compiled)
    validateTransition(Compiled, Finished)
  }

  test("closed is reachable from anywhere") {
    all.foreach(s => assert(isValidTransition(s, Closed)))
  }

  test("terminal states cannot transition (except to closed)") {
    Seq(Finished, Timeout, Canceled, Error).foreach { s =>
      assert(!isValidTransition(s, Running))
      assert(!isValidTransition(s, Finished) || s == Finished && false)
    }
  }

  test("illegal transition throws") {
    intercept[IllegalStateException](validateTransition(Finished, Running))
    intercept[IllegalStateException](validateTransition(Initialized, Compiled))
  }
}

class FetchIteratorSpec extends AnyFunSuite {
  test("array iterator pages with fetchNext") {
    val it = new ArrayFetchIterator(Array(1, 2, 3, 4, 5))
    assert(it.take(2).toList == List(1, 2))
    it.fetchNext()
    assert(it.getFetchStart == 2)
    assert(it.take(2).toList == List(3, 4))
  }

  test("array iterator FETCH_PRIOR and absolute reposition") {
    val it = new ArrayFetchIterator(Array(10, 20, 30, 40))
    it.fetchAbsolute(3)
    assert(it.next() == 40)
    it.fetchPrior(2)
    assert(it.getFetchStart == 1)
    assert(it.next() == 20)
    it.fetchAbsolute(100) // clamped to end
    assert(!it.hasNext)
    it.fetchAbsolute(-5) // clamped to start
    assert(it.next() == 10)
  }

  test("fetch repositions for each orientation, then takes up to max") {
    import FetchOrientation._
    for (it <- Seq(new ArrayFetchIterator((0 until 10).toArray),
        new IterableFetchIterator(0 until 10))) {
      assert(it.fetch(Next, 4) == Seq(0, 1, 2, 3))
      assert(it.fetch(Next, 4) == Seq(4, 5, 6, 7))
      assert(it.getFetchStart == 4)
      assert(it.fetch(Prior, 3) == Seq(1, 2, 3)) // the 3 rows before the last block
      assert(it.fetch(First, 2) == Seq(0, 1))
      assert(it.fetch(Absolute(8), 5) == Seq(8, 9))
      assert(it.fetch(Next, 5).isEmpty && !it.hasNext)
    }
  }

  test("iterable iterator supports backward reposition by replay") {
    val it = new IterableFetchIterator(Seq(1, 2, 3, 4, 5))
    assert(it.take(3).toList == List(1, 2, 3))
    it.fetchAbsolute(1)
    assert(it.take(2).toList == List(2, 3))
  }
}

class SchemaMapperSpec extends AnyFunSuite {
  import org.apache.spark.sql.types._

  test("wire types match the reference matrix") {
    assert(SchemaMapper.toWireType(IntegerType) == "INT")
    assert(SchemaMapper.toWireType(LongType) == "BIGINT")
    assert(SchemaMapper.toWireType(DecimalType(10, 2)) == "DECIMAL(10,2)")
    assert(SchemaMapper.toWireType(TimestampNTZType) == "TIMESTAMP")
    assert(SchemaMapper.toWireType(ArrayType(IntegerType)) == "ARRAY")
    assert(SchemaMapper.toWireType(MapType(StringType, IntegerType)) == "MAP")
    assert(SchemaMapper.toWireType(CalendarIntervalType) == "STRING")
  }

  test("decimal digits: 6 for timestamps, 7/15 for float/double, scale for decimal") {
    assert(SchemaMapper.getDecimalDigits(TimestampType).contains(6))
    assert(SchemaMapper.getDecimalDigits(FloatType).contains(7))
    assert(SchemaMapper.getDecimalDigits(DoubleType).contains(15))
    assert(SchemaMapper.getDecimalDigits(DecimalType(10, 3)).contains(3))
    assert(SchemaMapper.getDecimalDigits(IntegerType).contains(0))
  }

  test("struct column size sums fixed-size fields") {
    val st = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType)))
    assert(SchemaMapper.getColumnSize(st).contains(12))
  }
}
