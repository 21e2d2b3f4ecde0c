package graft.nn

/** Small CNC-shaped concat AEs for specs: the `hidden` widths in the
  * trunk, mirrored in both decoders, one dropout rate throughout. */
object TestNets {
  def cncSized(d1: Int, d2: Int, hidden: Seq[Int], embed: Int,
      drop: Double = 0.0): ArchZoo.Arch = {
    val encDims = (d1 + d2) +: hidden :+ embed
    val decHidden = hidden.reverse
    ArchZoo.concatAe(
      trunk = Mlp.blocks(encDims, Seq.fill(encDims.length - 1)(drop)),
      dec1 = Mlp.blocks(embed +: decHidden :+ d1,
        Seq.fill(decHidden.length + 1)(drop), sigmoidOut = true),
      dec2 = Mlp.blocks(embed +: decHidden :+ d2,
        Seq.fill(decHidden.length + 1)(drop), sigmoidOut = true))
  }
}
