package graft.planopt

/** The learned chooser's held-out queries, drawn and split by the
  * stable pipeline's own code (`StableMain.poolSample` and
  * `StableMain.assembleWorkload`), so they are exactly the pool queries
  * the golden model never trained on. */
object HeldOut {
  /** Pool queries the golden drew for training
    * (`results/r18_stable_1000`). */
  val NumGen = 1000

  /** The test split's pool queries as (name, SQL), in split order. */
  def queries(poolFile: String, sfDir: String): Seq[(String, String)] = {
    val generated = StableMain.poolSample(poolFile, NumGen, new Pipelines.Logger(None))
    val (_, test) = StableMain.assembleWorkload(sfDir, generated)
    test.map { case (name, _) =>
      require(name.startsWith("gen"), s"held-out split holds a fixed seed query: $name")
      name -> generated(name.stripPrefix("gen").toInt)
    }
  }
}
