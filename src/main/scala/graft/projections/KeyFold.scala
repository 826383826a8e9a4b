package graft.projections

/** The per-key projection fold: the one kernel every batch and streaming
  * [[FoldBuilder]] path runs. It is the reference's projection core for
  * one partition: events in log order through the handler table, with
  * `$created` routing and emissions (JintProjectionStateHandler.cs:677-684).
  *
  * A key's fold starts from its prior state when it has one (a checkpoint
  * row, or its state-store entry). Without one it starts from `init`, and
  * `$created` fires before the first event's own handler; so `$created`
  * fires once per key, ever, on every path. */
private[projections] final class KeyFold[S](
    init: () => S,
    created: Option[(S, LogEvent) => S],
    step: (S, LogEvent, Emitter) => S) extends Serializable {

  /** Fold one key's `events` (in log order) on top of `prior`. */
  def run(key: String, prior: Option[S], events: Iterator[LogEvent]): Run =
    new Run(key, prior, events)

  /** One key's fold in progress. Iterating it yields the key's [[Emitted]]
    * rows lazily, so a hot key's emissions are never buffered; `state`
    * drains the rest of the fold and returns the final state. */
  final class Run(key: String, prior: Option[S], events: Iterator[LogEvent])
      extends Iterator[Emitted] {
    private var s: S = prior.getOrElse(init())
    private var fresh = prior.isEmpty
    private var pending: Iterator[Emitted] = Iterator.empty

    def hasNext: Boolean = {
      while (!pending.hasNext && events.hasNext) {
        val e = events.next()
        if (fresh) { created.foreach(f => s = f(s, e)); fresh = false }
        val em = new Emitter
        s = step(s, e, em)
        if (em.buf.nonEmpty)
          pending = em.buf.iterator.zipWithIndex.map { case ((stream, tpe, body, md), i) =>
            Emitted(stream, tpe, body, key, e.log_position, i, md)
          }
      }
      pending.hasNext
    }

    def next(): Emitted =
      if (hasNext) pending.next() else Iterator.empty.next()

    def state: S = {
      while (hasNext) pending.next()
      s
    }
  }
}

private[projections] object KeyFold {
  /** Groups the adjacent rows of a key-sorted iterator: one `(key, rows)`
    * per run of equal keys, in input order. Each group's rows must be
    * read before the next group is taken; what is left unread is skipped. */
  def groupAdjacent[K, V](it: Iterator[V])(keyOf: V => K): Iterator[(K, Iterator[V])] =
    new Iterator[(K, Iterator[V])] {
      private val in = it.buffered
      private var group: Iterator[V] = Iterator.empty
      def hasNext: Boolean = {
        while (group.hasNext) group.next()
        in.hasNext
      }
      def next(): (K, Iterator[V]) = {
        if (!hasNext) Iterator.empty.next()
        val k = keyOf(in.head)
        group = new Iterator[V] {
          def hasNext: Boolean = in.hasNext && keyOf(in.head) == k
          def next(): V = if (hasNext) in.next() else Iterator.empty.next()
        }
        (k, group)
      }
    }
}

/** Storage form of a fold's per-key state in the streaming state store:
  * identity for the Scala DSL, JSON for JS projections. The streaming fold
  * decodes a key's state once per micro-batch and encodes it once. */
final case class StateCodec[S, T](encode: S => T, decode: T => S)

object StateCodec {
  def identity[S]: StateCodec[S, S] = StateCodec[S, S](s => s, s => s)
}
