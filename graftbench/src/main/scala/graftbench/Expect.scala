package graftbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Pinned expectations: a flat map from a check key (for example
  * `ops_pipeline/qs_mmr/rows`) to the value the current code produced
  * when the benchmark was defined. */
object Expect {
  private val mapper = new ObjectMapper()

  def load(f: File): Map[String, String] =
    if (!f.exists()) Map.empty
    else mapper.readValue(f, classOf[java.util.TreeMap[String, String]])
      .asScala.toMap

  def save(f: File, m: Map[String, String]): Unit =
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(f, new java.util.TreeMap[String, String](m.asJava))

  /** One message per observed value that has no pinned expectation or
    * differs from it. */
  def mismatches(expected: Map[String, String],
      observed: Seq[(String, String)]): Seq[String] =
    observed.flatMap { case (k, v) =>
      expected.get(k) match {
        case None => Some(s"$k: no pinned expectation (observed $v)")
        case Some(e) if e != v => Some(s"$k: expected $e, observed $v")
        case _ => None
      }
    }

  /** One message per pinned key under one of `prefixes` that was not
    * observed: an output or a rule result that is no longer produced. */
  def missing(expected: Map[String, String], prefixes: Seq[String],
      observed: Seq[(String, String)]): Seq[String] = {
    val seen = observed.map(_._1).toSet
    expected.keys.toSeq.sorted
      .filter(k => prefixes.exists(k.startsWith) && !seen(k))
      .map(k => s"$k: pinned but not observed")
  }
}
