package graft

/** Process-local receipt channel for gates whose decisive evidence is
  * RUNTIME behavior rather than plan shape: an executed AQE plan
  * inside an isolated session (q25's skew split), restart ledgers
  * (st19/st20's batch-numbering continuity), file-layout deltas
  * (la22's untouched partitions). Those gates already `require` the
  * behavior on every run; recording the proven fact here lets the plan
  * writer ([[Diag.planText]], behind `Diag plan`) print it above the
  * gate's plan, where PlanShapeSpec's plan-shape laws check the claim
  * on the live plan text — the same discipline plan-shape claims get.
  *
  * Keep a receipt deterministic at a fixed sf: anything host-dependent
  * in it makes two plan dumps of unchanged code differ (`planText`
  * masks expression ids itself).
  */
object Receipts {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def record(gate: String, receipt: String): Unit = { m.put(gate, receipt); () }
  def get(gate: String): Option[String] = Option(m.get(gate))
}
