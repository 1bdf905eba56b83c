package graft.server

/** The reference's application-state vocabulary (kyuubi-server/.../
  * engine/ApplicationOperation.scala). A batch runs as a tracked
  * operation, and its status reads in this vocabulary through
  * [[fromOperationStateName]].
  */
object ApplicationState extends Enumeration {
  type ApplicationState = Value
  val PENDING, RUNNING, FINISHED, KILLED, FAILED, ZOMBIE, NOT_FOUND, UNKNOWN = Value

  /** Our batch "applications" execute as tracked operations; their
    * operation-state names translate into this production vocabulary
    * so batch status reads the same whether the app ran in-process,
    * on YARN, or on K8s.
    */
  def fromOperationStateName(name: String): ApplicationState =
    name.toUpperCase match {
      case "INITIALIZED" | "PENDING" => PENDING
      case "RUNNING" | "COMPILED" => RUNNING
      case "FINISHED" | "CLOSED" => FINISHED
      case "CANCELED" | "TIMEOUT" => KILLED
      case "ERROR" => FAILED
      case _ => UNKNOWN
    }
}
