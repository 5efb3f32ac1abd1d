package perfbench

import java.io.File
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Util {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, json.writerWithDefaultPrettyPrinter().writeValueAsString(v))
  }

  def readJson(f: File): JsonNode = json.readTree(f)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Total size and count of the data files under a directory tree
    * (hidden and underscore-prefixed bookkeeping files excluded). */
  def dataFiles(dir: File): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    val files = walk(dir)
    (files.map(_.length).sum, files.size)
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Parses `--key value` pairs. */
  def options(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
}
