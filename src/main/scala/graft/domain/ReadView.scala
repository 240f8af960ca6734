package graft.domain

/** Which state of a generation-versioned lake a serve reads — the one
  * argument every [[LexLake]] / [[VectorLake]] serve takes in place of a
  * separate pinned twin. Resolved to its data root by
  * [[GenStore.resolve]] and to its root overlays by
  * [[GenStore.readOverlay]].
  *
  *  - [[ReadView.Live]]: the current generation PLUS the root
  *    tombstone/edit overlays — every delete and upsert serves the moment
  *    it commits, before any fold.
  *  - [[ReadView.Pinned]]: one generation's COMMITTED state with the root
  *    overlays SKIPPED. The overlays are uncommitted mutation state shared
  *    across generations; applying them would let a half-fanned-out
  *    cross-lake edit leak into a snapshot that exists precisely to
  *    exclude it. The fold commits them into the next generation, where a
  *    re-taken snapshot picks them up — so a pinned read of the current
  *    generation differs from the live read exactly while overlays are
  *    pending. `None` names the legacy root layout of a store that has
  *    never reconciled. A generation retention has dropped refuses loudly
  *    at resolve time (the stranded-reader message). */
sealed trait ReadView

object ReadView {
  case object Live extends ReadView
  final case class Pinned(gen: Option[Long]) extends ReadView
}
