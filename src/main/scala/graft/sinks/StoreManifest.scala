package graft.sinks

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.json4s.{JInt, JObject, JString}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** An engine-owned store's control file, `$dir/_manifest`: its format, the
  * writer's version and the layout parameters readers depend on. Engine
  * reads pin the schema this version writes, right only for a store this
  * version wrote. Written last, read first; a manifest that is missing,
  * empty (a crash between the file's create and its write), unparseable or
  * different marks a store its owner rebuilds from the source.
  * Rule: a change to what a store's writer lays down bumps its version.
  */
private[graft] final case class StoreManifest(
    format: String, version: Int, layout: Map[String, Int]) {
  def json: String =
    compact(render(("format" -> format) ~ ("version" -> version) ~ ("layout" -> layout)))
}

private[graft] object StoreManifest {
  def path(dir: String): String = s"$dir/_manifest"

  def write(spark: SparkSession, dir: String, manifest: StoreManifest): Unit =
    Hfs.writeText(spark, path(dir), manifest.json + "\n")

  /** `dir`'s manifest; None when it is absent, empty or unparseable. */
  def read(spark: SparkSession, dir: String): Option[StoreManifest] =
    Hfs.readText(spark, path(dir)).flatMap { text =>
      Try {
        val j = parse(text)
        val (JString(format), JInt(version), JObject(layout)) =
          (j \ "format", j \ "version", j \ "layout")
        StoreManifest(format, version.toInt,
          layout.collect { case (k, JInt(v)) => k -> v.toInt }.toMap)
      }.toOption
    }

  /** Open `dir` as a store laid down as `expected`: a directory whose
    * manifest is not `expected` is deleted, rebuilt by `build`, and then
    * gets the manifest.
    */
  def ensure(spark: SparkSession, dir: String, expected: StoreManifest)(
      build: => Unit): Unit =
    if (!read(spark, dir).contains(expected)) {
      Hfs.delete(spark, dir)
      build
      write(spark, dir, expected)
    }
}
