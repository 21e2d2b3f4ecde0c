package graft.nn

/** The reference's 8 AE architectures as graph builders, at the
  * published layer dims and dropout rates (extracted from
  * Evaluation_Auxiliary/model_structures.py — citations per builder).
  * Input widths (d1, d2) parameterized; all hidden dims are the
  * reference constants. Loss compositions per SURVEY M20/M21.
  *
  * Embedding extraction per architecture follows M24
  * (embedding_from_retrained_models.py:36-91): plain archs use z12;
  * SS-family concats z1‖z2‖z12 (:71); MOCSS concats
  * specific1‖specific2‖mean(shared1, shared2) (:81-84).
  */
object ArchZoo {

  /** How to compose the subject embedding from named outputs. */
  sealed trait EmbedSpec extends Serializable
  final case class ConcatEmbed(names: Seq[String]) extends EmbedSpec
  case object MocssEmbed extends EmbedSpec // spec1 ‖ spec2 ‖ avg(shared1, shared2)

  final case class Arch(name: String, model: GraphModel, embed: EmbedSpec)

  private def B(dims: Seq[Int], drops: Seq[Double], sig: Boolean = false) =
    Mlp.blocks(dims, drops, sigmoidOut = sig)

  /** Two-view concat AE: z12 = trunk(x1 ‖ x2); s1hat = dec1(z12);
    * s2hat = dec2(z12); recon-only loss. The view widths are the
    * stacks' own (trunk input d1 + d2, decoder outputs d1 and d2). */
  def concatAe(trunk: Mlp, dec1: Mlp, dec2: Mlp): Arch = {
    val g = AeGraph(Vector(
      GView(0), GView(1), GConcat(Vector(0, 1)),
      GStack(2, trunk), GStack(3, dec1), GStack(3, dec2)),
      Map("z12" -> 3, "s1hat" -> 4, "s2hat" -> 5))
    Arch("CNC_AE", GraphModel(g,
      Vector(ReconTerm("s1hat", 0), ReconTerm("s2hat", 1))),
      ConcatEmbed(Seq("z12")))
  }

  /** CNC_AE (model_structures.py:37-200). */
  def cnc(d1: Int, d2: Int): Arch = concatAe(
    trunk = B(Seq(d1 + d2, 256, 128, 1024, 32), Seq(0.1, 0.4, 0.4, 0.1)),
    dec1 = B(Seq(32, 256, 256, 512, d1), Seq(0.1, 0.1, 0.2, 0.0), sig = true),
    dec2 = B(Seq(32, 32, 256, 512, d2), Seq(0.6, 0.6, 0.2, 0.1), sig = true))

  /** X_AE (model_structures.py:206-355): per-view stems, then joint. */
  def xae(d1: Int, d2: Int): Arch = {
    val g = AeGraph(Vector(
      GView(0), GView(1),
      GStack(0, B(Seq(d1, 128), Seq(0.0))),
      GStack(1, B(Seq(d2, 1024), Seq(0.0))),
      GConcat(Vector(2, 3)),
      GStack(4, B(Seq(128 + 1024, 128, 1024, 256), Seq(0.2, 0.4, 0.0))),
      GStack(5, B(Seq(256, 64, 128, 1024, d1), Seq(0.2, 0.6, 0.0, 0.0), sig = true)),
      GStack(5, B(Seq(256, 256, 1024, 32, d2), Seq(0.1, 0.6, 0.4, 0.1), sig = true))),
      Map("z12" -> 5, "s1hat" -> 6, "s2hat" -> 7))
    Arch("X_AE", GraphModel(g,
      Vector(ReconTerm("s1hat", 0), ReconTerm("s2hat", 1))),
      ConcatEmbed(Seq("z12")))
  }

  /** MM_AE (model_structures.py:361-528): cross-mixed stems. */
  def mm(d1: Int, d2: Int): Arch = {
    val g = AeGraph(Vector(
      GView(0), GView(1),
      GStack(0, B(Seq(d1, 64), Seq(0.2))),   // 2: s1_
      GStack(1, B(Seq(d2, 32), Seq(0.6))),   // 3: s2_
      GConcat(Vector(2, 3)),                 // 4: s12
      GConcat(Vector(3, 2)),                 // 5: s21
      GStack(4, B(Seq(96, 256), Seq(0.6))),  // 6
      GStack(5, B(Seq(96, 32), Seq(0.1))),   // 7
      GConcat(Vector(6, 7)),                 // 8
      GStack(8, B(Seq(288, 1024, 512), Seq(0.6, 0.2))), // 9: z12
      GStack(9, B(Seq(512, 64, 512, 1024, d1), Seq(0.0, 0.2, 0.2, 0.1), sig = true)),
      GStack(9, B(Seq(512, 32, 256, 1024, d2), Seq(0.0, 0.4, 0.0, 0.1), sig = true))),
      Map("z12" -> 9, "s1hat" -> 10, "s2hat" -> 11))
    Arch("MM_AE", GraphModel(g,
      Vector(ReconTerm("s1hat", 0), ReconTerm("s2hat", 1))),
      ConcatEmbed(Seq("z12")))
  }

  /** Shared SS-family graph shape: three encoder branches (z1, z2, z12)
    * and decoders over z1‖z2‖z12. Dims differ per variant. */
  private def ssGraph(d1: Int, d2: Int,
      b1: (Seq[Int], Seq[Double]), b2: (Seq[Int], Seq[Double]),
      b12: (Seq[Int], Seq[Double]),
      dec1: (Seq[Int], Seq[Double]), dec2: (Seq[Int], Seq[Double])): AeGraph =
    AeGraph(Vector(
      GView(0), GView(1), GConcat(Vector(0, 1)),
      GStack(0, B(d1 +: b1._1, b1._2)),            // 3: z1
      GStack(1, B(d2 +: b2._1, b2._2)),            // 4: z2
      GStack(2, B((d1 + d2) +: b12._1, b12._2)),   // 5: z12
      GConcat(Vector(3, 4, 5)),                    // 6: z_all
      GStack(6, B(dec1._1 :+ d1, dec1._2, sig = true)),
      GStack(6, B(dec2._1 :+ d2, dec2._2, sig = true))),
      Map("z1" -> 3, "z2" -> 4, "z12" -> 5, "s1hat" -> 7, "s2hat" -> 8))

  private def ssEmbed = ConcatEmbed(Seq("z1", "z2", "z12"))

  private def orthoPair(mk: (String, String, Double) => LossTerm,
      mult: Double): Vector[LossTerm] =
    Vector(ReconTerm("s1hat", 0), ReconTerm("s2hat", 1),
      mk("z12", "z1", mult), mk("z12", "z2", mult))

  /** JISAE / SS_AE (model_structures.py:620-760), recon-only loss
    * (Simulation_Models/JISAE_selection.py:330). */
  def jisae(d1: Int, d2: Int): Arch = {
    val g = ssGraph(d1, d2,
      b1 = (Seq(128, 1024, 512, 512), Seq(0.4, 0.6, 0.2, 0.6)),
      b2 = (Seq(512, 32, 1024, 512), Seq(0.0, 0.0, 0.1, 0.6)),
      b12 = (Seq(64, 1024, 256, 512), Seq(0.0, 0.1, 0.2, 0.2)),
      dec1 = (Seq(1536, 32, 128, 64), Seq(0.1, 0.1, 0.1, 0.0)),
      dec2 = (Seq(1536, 512, 512, 256), Seq(0.1, 0.1, 0.1, 0.1)))
    Arch("JISAE", GraphModel(g,
      Vector(ReconTerm("s1hat", 0), ReconTerm("s2hat", 1))), ssEmbed)
  }

  /** JISAE-O1 / SSO (model_structures.py:848-988),
    * loss = recon + mult·(O1(z12,z1)+O1(z12,z2)). */
  def jisaeO1(d1: Int, d2: Int, orthoMultiplier: Double): Arch = {
    val g = ssGraph(d1, d2,
      b1 = (Seq(1024, 1024, 128, 1024), Seq(0.0, 0.2, 0.0, 0.1)),
      b2 = (Seq(32, 512, 32, 1024), Seq(0.2, 0.4, 0.6, 0.6)),
      b12 = (Seq(256, 32, 256, 1024), Seq(0.2, 0.1, 0.0, 0.2)),
      dec1 = (Seq(3072, 512, 32, 256), Seq(0.6, 0.4, 0.0, 0.0)),
      dec2 = (Seq(3072, 128, 512, 1024), Seq(0.4, 0.0, 0.1, 0.0)))
    Arch("JISAE-O1", GraphModel(g,
      orthoPair(OrthoO1Term(_, _, _), orthoMultiplier)), ssEmbed)
  }

  /** JISAE-O2 / SSO2 (model_structures.py:1076-1216),
    * loss = recon + mult·Σdiag(z12·zᵀ)² terms. */
  def jisaeO2(d1: Int, d2: Int, orthoMultiplier: Double): Arch = {
    val g = ssGraph(d1, d2,
      b1 = (Seq(1024, 256, 1024, 1024), Seq(0.2, 0.0, 0.0, 0.0)),
      b2 = (Seq(1024, 128, 256, 1024), Seq(0.4, 0.6, 0.2, 0.0)),
      b12 = (Seq(512, 32, 32, 1024), Seq(0.0, 0.4, 0.6, 0.0)),
      dec1 = (Seq(3072, 512, 64, 128), Seq(0.0, 0.1, 0.2, 0.0)),
      dec2 = (Seq(3072, 512, 256, 64), Seq(0.6, 0.0, 0.1, 0.1)))
    Arch("JISAE-O2", GraphModel(g,
      orthoPair(OrthoO2Term(_, _, _), orthoMultiplier)), ssEmbed)
  }

  /** JISAE-O3 / SSO3 (model_structures.py:1304-1441),
    * loss = recon + mult·Σ(column dots)² terms. */
  def jisaeO3(d1: Int, d2: Int, orthoMultiplier: Double): Arch = {
    val g = ssGraph(d1, d2,
      b1 = (Seq(512, 512, 128, 32), Seq(0.2, 0.6, 0.0, 0.0)),
      b2 = (Seq(512, 256, 512, 32), Seq(0.6, 0.1, 0.0, 0.1)),
      b12 = (Seq(128, 128, 1024, 32), Seq(0.2, 0.4, 0.6, 0.0)),
      dec1 = (Seq(96, 512, 128, 256), Seq(0.2, 0.1, 0.4, 0.0)),
      dec2 = (Seq(96, 1024, 64, 512), Seq(0.2, 0.1, 0.4, 0.0)))
    Arch("JISAE-O3", GraphModel(g,
      orthoPair(OrthoO3Term(_, _, _), orthoMultiplier)), ssEmbed)
  }

  /** MOCSS / SharedAndSpecificEmbedding (model_structures.py:1533-1704):
    * per-view shared+specific tanh AEs, contrastive heads; loss =
    * O1-ortho(shared,specific per view) + NT-Xent(heads, τ) +
    * mult·recon over all four reconstructions
    * (MOCSS_AE_model_selection.py:252-291, temperature 0.4). */
  def mocss(d1: Int, d2: Int, reconMultiplier: Double,
      temperature: Double = 0.4): Arch = {
    def tanhStack(dims: Seq[Int]): Mlp = Mlp(
      dims.sliding(2).flatMap { case Seq(i, o) =>
        Vector(LinearSpec(i, o), TanhSpec) }.toVector)
    def recStack(dims: Seq[Int], outDim: Int): Mlp = Mlp(
      (dims.sliding(2).flatMap { case Seq(i, o) =>
        Vector(LinearSpec(i, o), TanhSpec) }.toVector
        :+ LinearSpec(dims.last, outDim)) :+ SigmoidSpec)
    val u = Seq(1024, 1024, 32, 32) // n_units (model_structures.py:1539-1545)
    val mlpDims = Seq(32, 64, 512)  // mlp_size (:1549-1551)
    val g = AeGraph(Vector(
      GView(0), GView(1),
      GStack(0, tanhStack(d1 +: u)),                    // 2: shared1_em
      GStack(0, tanhStack(d1 +: u)),                    // 3: specific1_em
      GStack(1, tanhStack(d2 +: u)),                    // 4: shared2_em
      GStack(1, tanhStack(d2 +: u)),                    // 5: specific2_em
      GStack(2, recStack(Seq(32, 32, 1024, 1024), d1)), // 6: shared1_rec
      GStack(3, recStack(Seq(32, 32, 1024, 1024), d1)), // 7: specific1_rec
      GStack(4, recStack(Seq(32, 32, 1024, 1024), d2)), // 8: shared2_rec
      GStack(5, recStack(Seq(32, 32, 1024, 1024), d2)), // 9: specific2_rec
      GStack(2, tanhStack(mlpDims)),                    // 10: shared1_mlp
      GStack(4, tanhStack(mlpDims))),                   // 11: shared2_mlp
      Map("shared1" -> 2, "specific1" -> 3, "shared2" -> 4, "specific2" -> 5,
        "shared1_rec" -> 6, "specific1_rec" -> 7,
        "shared2_rec" -> 8, "specific2_rec" -> 9,
        "mlp1" -> 10, "mlp2" -> 11))
    Arch("MOCSS", GraphModel(g, Vector(
      OrthoO1Term("shared1", "specific1", 1.0),
      OrthoO1Term("shared2", "specific2", 1.0),
      NtXentTerm("mlp1", "mlp2", temperature),
      ReconTerm("shared1_rec", 0, reconMultiplier),
      ReconTerm("specific1_rec", 0, reconMultiplier),
      ReconTerm("shared2_rec", 1, reconMultiplier),
      ReconTerm("specific2_rec", 1, reconMultiplier))),
      MocssEmbed)
  }

  /** MOCSS-3V — the THREE-view survival variant
    * (Simulation_Auxiliary/mocss_survival.py; adjudicated in VERDICT
    * r14 "What's missing" #1: the file is 94.8% identical to mocss.py,
    * dormant as shipped — it imports a `Supcon` module the reference
    * does not contain — and its one novel computation is this
    * composition). Per view v: shared + specific 4-layer tanh encoders
    * (d_v→512→256→128→64, n_units at mocss_survival.py:139), mirrored
    * tanh decoders with a sigmoid reconstruction head (:146,
    * forward :281-345), and a shared-only tanh MLP head 64→64→16
    * (mlp_size=[64,16]). Loss (:110-137): Σ_v O1-ortho(shared_v,
    * specific_v) + Σ_{pairs} NT-Xent(mlp_i, mlp_j, τ) +
    * 0.7 · Σ_v [recon(shared_v_rec, x_v) + recon(specific_v_rec, x_v)]
    * — with the GLOBAL-MEAN centering ACTIVE in all three families
    * (:40-41, :55-58, :75-78; the two-view selection scripts keep
    * those lines commented out). Defaults: view_size=[1000,1000,503]
    * (:139), temperature 0.4 (:366), recon weight 0.7 (:134). */
  def mocss3(d1: Int, d2: Int, d3: Int, reconMultiplier: Double = 0.7,
      temperature: Double = 0.4): Arch = {
    def tanhStack(dims: Seq[Int]): Mlp = Mlp(
      dims.sliding(2).flatMap { case Seq(i, o) =>
        Vector(LinearSpec(i, o), TanhSpec) }.toVector)
    def recStack(dims: Seq[Int], outDim: Int): Mlp = Mlp(
      (dims.sliding(2).flatMap { case Seq(i, o) =>
        Vector(LinearSpec(i, o), TanhSpec) }.toVector
        :+ LinearSpec(dims.last, outDim)) :+ SigmoidSpec)
    val u = Seq(512, 256, 128, 64)  // n_units_{1,2,3}
    val mlpDims = Seq(64, 64, 16)   // mlp head over shared_em
    val ds = Seq(d1, d2, d3)
    // per view: [shared_em, specific_em, shared_rec, specific_rec, mlp]
    val nodes = Vector.newBuilder[GNode]
    nodes ++= Seq(GView(0), GView(1), GView(2))
    var next = 3
    val outs = Map.newBuilder[String, Int]
    ds.zipWithIndex.foreach { case (d, v) =>
      val sharedEm = next; nodes += GStack(v, tanhStack(d +: u))
      val specEm = next + 1; nodes += GStack(v, tanhStack(d +: u))
      nodes += GStack(sharedEm, recStack(u.reverse, d))
      nodes += GStack(specEm, recStack(u.reverse, d))
      nodes += GStack(sharedEm, tanhStack(mlpDims))
      val n = v + 1
      outs += s"shared$n" -> sharedEm
      outs += s"specific$n" -> specEm
      outs += s"shared${n}_rec" -> (next + 2)
      outs += s"specific${n}_rec" -> (next + 3)
      outs += s"mlp$n" -> (next + 4)
      next += 5
    }
    val g = AeGraph(nodes.result(), outs.result())
    val ortho = (1 to 3).map(v =>
      OrthoO1Term(s"shared$v", s"specific$v", 1.0, center = true))
    val contrastive = Seq((1, 2), (1, 3), (2, 3)).map { case (i, j) =>
      NtXentTerm(s"mlp$i", s"mlp$j", temperature, center = true) }
    val recon = (1 to 3).flatMap(v => Seq(
      ReconTerm(s"shared${v}_rec", v - 1, reconMultiplier, center = true),
      ReconTerm(s"specific${v}_rec", v - 1, reconMultiplier, center = true)))
    Arch("MOCSS-3V",
      GraphModel(g, (ortho ++ contrastive ++ recon).toVector), MocssEmbed)
  }

  /** All 8 at the reference dims, keyed by the AE_results naming
    * (AE_results.ipynb cell 18 name mapping). */
  def all(d1: Int, d2: Int, orthoMultiplier: Double = 1.0): Seq[Arch] = Seq(
    cnc(d1, d2), xae(d1, d2), mm(d1, d2), jisae(d1, d2),
    jisaeO1(d1, d2, orthoMultiplier), jisaeO2(d1, d2, orthoMultiplier),
    jisaeO3(d1, d2, orthoMultiplier), mocss(d1, d2, orthoMultiplier))
}
