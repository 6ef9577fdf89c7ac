package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/**
 * Deterministic input generation. Every generated value is a pure function
 * of (seed, stream, index), so the same seed gives the same inputs, inputs
 * can be made inside Spark tasks, and the checks can recompute any input
 * row on the driver without keeping the inputs in memory.
 */
object Gen {
  /** SplitMix64's finalizer: a bijective 64-bit mix. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The `i`-th value of stream `stream` under `seed`. */
  def h(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) + stream) + i)

  /** A value of stream `stream` in `[0, n)`. */
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(h(seed, stream, i), n)

  /** Decimal text of `cents / 100` with two decimals. */
  def money(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString

  /** Write `text` to `dir/name` so that it appears there whole: written
   *  beside the directory first, then renamed into it. */
  def land(dir: Path, name: String, text: String): Long = {
    Files.createDirectories(dir)
    val tmp = dir.resolveSibling(s".${dir.getFileName}-$name.tmp")
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  /** Total bytes of the regular files under `p`. */
  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally s.close()
  }
}
