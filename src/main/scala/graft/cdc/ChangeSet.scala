package graft.cdc

/** The op names of a change row, as the reference's protobuf input
  * (`pb/substreams/sink/database/v1/database.pb.go`) spells them.
  */
object Op {
  val Insert = "INSERT"
  val Update = "UPDATE"
  val Delete = "DELETE"
}
