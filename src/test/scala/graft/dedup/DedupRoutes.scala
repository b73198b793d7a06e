package graft.dedup

/** Spec access to the minhash verify's route ([[NearDupRoute]]). */
object DedupRoutes {

  /** Runs `body` with the driver route's cap at 0: the minhash family
    * verifies through the distributed band self-join and verify joins. */
  def distributed[T](body: => T): T = NearDupRoute.cap.withValue(0L)(body)
}
