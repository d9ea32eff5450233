package graft.config

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.fsops.FsOps

/** Algorithm parameter files ("acon" JSON in the reference,
  * reference: src/main/scala/com/adidas/analytics/config/shared/ConfigurationContext.scala:13-17,
  * util/ConfigReader.scala:8-49). The reference parses with
  * `scala.util.parsing.json` (removed from the 2.13 stdlib); we use the
  * jackson-scala module that ships with Spark. Values are a plain
  * `Map[String, Any]` with typed accessors, same access pattern as the
  * reference's ConfigReader. Every accessor reads through `values.get`.
  */
class JsonConfig(val values: Map[String, Any]) {

  def get[T](key: String): T =
    values.getOrElse(key, throw new NoSuchElementException(
      s"missing config key: $key")).asInstanceOf[T]

  def getOpt[T](key: String): Option[T] =
    values.get(key).map(_.asInstanceOf[T])

  def getString(key: String): String = get[Any](key).toString
  def getStringOpt(key: String): Option[String] =
    values.get(key).map(_.toString)

  def getInt(key: String): Int = get[Any](key) match {
    case n: Int => n
    case n: Number => n.intValue()
    case s: String => s.toInt
  }
  def getIntOpt(key: String): Option[Int] =
    values.get(key).map { case n: Number => n.intValue(); case s => s.toString.toInt }
  def getInt(key: String, default: Int): Int = getIntOpt(key).getOrElse(default)

  /** Required long (token budgets overflow Int at corpus scale). */
  def getLong(key: String): Long = get[Any](key) match {
    case n: Number => n.longValue()
    case s: String => s.toLong
  }

  def getDouble(key: String, default: Double): Double =
    values.get(key).map {
      case n: Number => n.doubleValue()
      case s => s.toString.toDouble
    }.getOrElse(default)

  /** Required double — a missing key fails with the key name, not with
    * whatever downstream validation rejects a sentinel default.
    */
  def getDouble(key: String): Double = get[Any](key) match {
    case n: Number => n.doubleValue()
    case s => s.toString.toDouble
  }

  def getBoolean(key: String, default: Boolean = false): Boolean =
    values.get(key).map {
      case b: Boolean => b
      case s => s.toString.toBoolean
    }.getOrElse(default)

  def getSeq[T](key: String): Seq[T] = values.get(key) match {
    case Some(l: Seq[_]) => l.asInstanceOf[Seq[T]]
    case Some(l: java.util.List[_]) =>
      scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
        .asInstanceOf[Seq[T]]
    case None => Seq.empty
    case Some(other) => throw new IllegalArgumentException(
      s"$key is not a list: $other")
  }

  /** Numeric list (`"ps": [0.5, 1]`): Jackson hands back Integer, Long or
    * Double per element, so each converts through [[JsonConfig.number]]
    * (a non-number fails naming `key[i]`); empty when absent, like
    * [[getSeq]].
    */
  def getDoubles(key: String): Seq[Double] =
    getSeq[Any](key).zipWithIndex.map { case (v, i) =>
      JsonConfig.number(s"$key[$i]", v).doubleValue }
  def getDoubles(key: String, default: Seq[Double]): Seq[Double] =
    values.get(key).map(_ => getDoubles(key)).getOrElse(default)

  /** Numeric map (`"fractions": {"a": 0.5, "b": 1}`); a non-number fails
    * naming `key.sub`.
    */
  def getDoubleMap(key: String): Map[String, Double] =
    get[Any](key) match {
      case m: Map[_, _] => m.map { case (k, v) =>
        k.toString -> JsonConfig.number(s"$key.$k", v).doubleValue }
      case other => throw new IllegalArgumentException(
        s"$key is not a map: $other")
    }
  def getDoubleMap(key: String,
      default: Map[String, Double]): Map[String, Double] =
    values.get(key).map(_ => getDoubleMap(key)).getOrElse(default)
}

object JsonConfig {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(json: String): JsonConfig =
    new JsonConfig(mapper.readValue(json, classOf[Map[String, Any]]))

  def fromFile(fsOps: FsOps, path: String): JsonConfig =
    parse(fsOps.readFile(path))

  /** A params value that must be a number: any JSON number, or a string
    * holding one; anything else fails naming `key`.
    */
  def number(key: String, v: Any): Number = {
    def bad = new IllegalArgumentException(s"$key must be a number, got: $v")
    v match {
      case n: Number => n
      case s: String =>
        try new java.math.BigDecimal(s.trim)
        catch { case _: NumberFormatException => throw bad }
      case _ => throw bad
    }
  }
}
