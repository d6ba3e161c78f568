package graft.graph

/** Logical write operations — the engine's WAL entry type, mirroring the
  * reference's `Entry` (/root/reference/library/GraphDB/Persistent/Log.hs:20-28).
  * Because our node handles are stable global ids (not tx-local ordinals),
  * only the 5 mutating ops need logging — the reference must additionally
  * log `GetRoot`/`GetTargets` to re-derive its ordinals on replay
  * (Persistent.hs:126-171); a documented simplification with identical
  * observable state.
  */
sealed trait GraphOp[V]
object GraphOp {
  final case class NewNode[V](id: Long, v: V) extends GraphOp[V]
  final case class SetValue[V](id: Long, v: V) extends GraphOp[V]
  final case class AddTarget[V](src: Long, dst: Long) extends GraphOp[V]
  final case class RemoveTarget[V](src: Long, dst: Long) extends GraphOp[V]
  final case class RemoveNode[V](id: Long) extends GraphOp[V]

  /** Keep-last per id, preserving last-write order — the SetValue-run
    * dedupe of GraphSession.applied(), which every op applier runs.
    * O(n) (the filterNot-fold it replaces was O(n²) on the driver).
    */
  private[graft] def keepLastById[V](kvs: Seq[(Long, V)]): Seq[(Long, V)] = {
    val m = new java.util.LinkedHashMap[java.lang.Long, V]()
    kvs.foreach { case (k, v) => m.remove(k); m.put(k, v) } // move-to-end
    val out = Vector.newBuilder[(Long, V)]
    m.forEach((k, v) => out += ((k.longValue(), v)))
    out.result()
  }
}
