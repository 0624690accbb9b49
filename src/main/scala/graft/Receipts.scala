package graft

/** Process-local receipt channel for gates whose decisive evidence is
  * RUNTIME behavior rather than plan shape: an executed AQE plan
  * inside an isolated session (q25's skew split), restart ledgers
  * (st19/st20's batch-numbering continuity), file-layout deltas
  * (la22's untouched partitions). Those gates already `require` the
  * behavior on every run; recording the proven fact here lets the plan
  * writer ([[Diag.planText]], behind `Diag plan` and `Diag showcase`)
  * print it above the gate's plan and in its PLANS.md section, where the
  * GateRegistrySpec law lint machine-checks the claim on the COMMITTED
  * text — the same discipline plan-shape claims get.
  *
  * Receipts must be deterministic at a fixed sf (PLANS.md is
  * committed; a regen should be byte-stable) — normalize away exprIds
  * and anything host-dependent before recording.
  */
object Receipts {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def record(gate: String, receipt: String): Unit = { m.put(gate, receipt); () }
  def get(gate: String): Option[String] = Option(m.get(gate))
}
