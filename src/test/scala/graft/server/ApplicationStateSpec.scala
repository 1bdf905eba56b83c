package graft.server

import org.scalatest.funsuite.AnyFunSuite

/** Batch status speaks the reference's application vocabulary. */
class ApplicationStateSpec extends AnyFunSuite {
  import ApplicationState._

  test("operation-state names translate to the application vocabulary") {
    assert(fromOperationStateName("Running") == RUNNING)
    assert(fromOperationStateName("Finished") == FINISHED)
    assert(fromOperationStateName("Error") == FAILED)
    assert(fromOperationStateName("Canceled") == KILLED)
    assert(fromOperationStateName("Timeout") == KILLED)
    assert(fromOperationStateName("Pending") == PENDING)
    assert(fromOperationStateName("whatever") == UNKNOWN)
  }
}
