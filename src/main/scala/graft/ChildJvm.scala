package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Fresh-child-JVM spawn for ScaleCheck's deep tier: same-process
  * re-runs cannot escape a degraded JVM (GC/heap state, allocator
  * fragmentation, codegen-cache pollution), so the controlled condition
  * is a child on THIS classpath. */
private[graft] object ChildJvm {

  /** Run `mainClass` with `args` in a fresh JVM inheriting this JVM's
    * heap flags (last -Xmx/-Xms win, matching JVM semantics — a
    * hard-coded size bigger than the box would OOM/thrash the child on
    * smaller machines); returns its stdout, or None on spawn failure or
    * timeout (child force-killed). Stderr is discarded — callers parse
    * a single stdout line of their own format.
    *
    * A parent launched WITHOUT heap flags still passes the child an
    * explicit -Xmx equal to its own EFFECTIVE max heap
    * (Runtime.maxMemory): the JVM default is a fraction of box RAM and
    * the child should measure under the same memory ceiling the parent
    * runs under, not whatever its own ergonomics pick. Note the parent
    * stays RESIDENT while the child runs — worst case the two together
    * hold 2× that ceiling, which is why the inherited value (≤ the
    * parent's, typically ≤ half the box) is the right fallback rather
    * than a box-sized one. */
  def run(mainClass: String, args: Seq[String], env: Map[String, String],
      timeoutMinutes: Long): Option[String] =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(a =>
          a.startsWith("-Xmx") || a.startsWith("-Xms")).toSeq
      val heapArgs =
        if (inherited.exists(_.startsWith("-Xmx"))) inherited
        else inherited :+ s"-Xmx${Runtime.getRuntime.maxMemory() / (1024 * 1024)}m"
      val outFile = Files.createTempFile("graft-childjvm", ".out")
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ heapArgs ++ Seq("-cp", cp, mainClass) ++ args).asJava)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectOutput(outFile.toFile)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      if (!p.waitFor(timeoutMinutes, java.util.concurrent.TimeUnit.MINUTES)) {
        p.destroyForcibly()
        None
      } else {
        val out = new String(Files.readAllBytes(outFile), StandardCharsets.UTF_8)
        Files.deleteIfExists(outFile)
        Some(out)
      }
    } catch { case _: Throwable => None }
}
