package graft.sketch

/** Wire codec and merge of one sketch family, implemented by the family's
  * companion object; [[graft.functions.SketchAggregate]] drives every
  * family's aggregation lifecycle through it. `serialize` and `merge` have
  * no shared default on purpose: a default body is one call site for every
  * family, which the JIT sees as megamorphic once several families run in
  * one JVM. */
trait SketchCodec[S >: Null <: AnyRef] {
  /** Parse a payload; a wrong wire tag or a corrupt payload throws. */
  def deserialize(bytes: Array[Byte]): S
  def serialize(sketch: S): Array[Byte]
  /** Union `other` into `into` and return the sketch to keep (usually
    * `into` itself). */
  def merge(into: S, other: S): S
  /** Merge a serialized sketch into `target` (null: deserialize it). A
    * family with a wire-format merge overrides this to skip building the
    * intermediate sketch. */
  def mergeSerializedInto(bytes: Array[Byte], target: S): S =
    if (target == null) deserialize(bytes) else merge(target, deserialize(bytes))

  /** The first-byte check every single-tag wire format starts with. */
  protected def checkTag(tag: Byte, expected: Byte, what: String): Unit =
    if (tag != expected)
      throw new SketchMergeException(
        f"not $what: wire tag 0x$tag%02x (expected 0x$expected%02x)")
}
