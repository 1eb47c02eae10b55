package graft.plans

/** The learned strategy's choice cache, seen from the benchmark. A
  * query whose routing decision came from the cache leaves its size
  * unchanged; a fresh sweep adds at least one entry. */
object RoutingProbe {
  def choiceCacheSize: Int = PlanChoice.choiceCache.size()

  /** Forgets every cached choice, so the next pass sweeps again. */
  def clearChoices(): Unit = PlanChoice.choiceCache.clear()
}
