package graft.multimodal

/** The luminance plane every decoder emits: one byte per pixel, row-major,
  * top-down, in the integer Rec.601 weighting below. One definition keeps
  * a pixel-identical image on the same plane whichever arm decoded it.
  */
object Luma {

  /** Refuse to materialize planes past 2^24 pixels (16 MiB luma): a decode
    * bomb (tiny file, huge declared dims) must fail the row, not the
    * executor. Real corpus thumbnails sit orders of magnitude below this.
    */
  val MaxPixels: Int = 1 << 24

  /** Integer Rec.601 luma, truncating: `(299·R + 587·G + 114·B) / 1000` over
    * 0..255 samples — pure integer math, so a DuckDB oracle reproduces the
    * plane exactly with `//` arithmetic.
    */
  def rec601(r: Int, g: Int, b: Int): Byte = ((299 * r + 587 * g + 114 * b) / 1000).toByte
}
