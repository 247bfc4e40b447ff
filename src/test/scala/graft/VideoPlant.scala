package graft

/** Synthetic MP4 payloads for the pipeline and video specs: an original,
  * a re-encode (every coded byte rewritten, same size profile) and a
  * re-mux (same frames, different chunking and timescale). */
object VideoPlant {
  def chunksFor(nf: Int): Seq[Int] =
    Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)

  def vid(fam: Long, payloadFam: Long, reenc: Boolean): Array[Byte] = {
    val M = graft.llm.Multimodal
    val sizes =
      if (reenc) M.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L)
      else M.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L)
    M.encodeMp4Media(payloadFam, sizes, chunksFor(640))
  }

  def vidRemux(fam: Long): Array[Byte] = {
    val M = graft.llm.Multimodal
    M.encodeMp4Media(fam * 100L,
      M.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
      Seq.fill(20)(32), timescale = 90000, durationUnits = 640L * 20L * 150L)
  }
}
