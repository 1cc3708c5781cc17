package graft.core

import scala.jdk.CollectionConverters._

/** The one record of every size-adaptive physical-path choice: an
  * operator asks [[decide]] once per choice, its rule reads the measured
  * inputs against the operator's constant thresholds, and the choice is
  * kept as the [[latest]] of its op and `(op, choice, inputs)` in a
  * buffer of the [[Capacity]] newest, which [[drain]] empties
  * (`graft.Bench` does after each query; a live stream that never drains
  * keeps only the newest). */
object Decisions {

  /** `inputs` are numbers or booleans: [[json]] prints them bare. */
  final case class Decision(op: String, choice: String, inputs: Seq[(String, Any)]) {
    def json: String = inputs.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"op":"$op","choice":"$choice","inputs":{""", ",", "}}")
  }

  val Capacity = 1024
  private val latestByOp = new java.util.concurrent.ConcurrentHashMap[String, String]
  private val recent = new java.util.ArrayDeque[Decision]
  @volatile private var pinned = Map.empty[String, String]

  /** The choice for `op`: the one pinned by [[forcing]], else `rule`'s. */
  def decide(op: String, inputs: (String, Any)*)(rule: => String): String = {
    val d = Decision(op, pinned.getOrElse(op, rule), inputs)
    latestByOp.put(op, d.choice)
    recent.synchronized {
      if (recent.size == Capacity) recent.pollFirst()
      recent.addLast(d)
    }
    d.choice
  }

  /** A two-way [[decide]]: whether `yes` (chosen when `rule` holds) won. */
  def choose(op: String, yes: String, no: String, inputs: (String, Any)*)(
      rule: => Boolean): Boolean = {
    val c = decide(op, inputs: _*)(if (rule) yes else no)
    require(c == yes || c == no, s"$op: '$c' is neither '$yes' nor '$no'")
    c == yes
  }

  /** The last choice of each op in this JVM. */
  def latest: Map[String, String] = Map.from(latestByOp.asScala)

  /** The buffered decisions, oldest first; the buffer is emptied. */
  def drain(): Seq[Decision] = recent.synchronized {
    try recent.toArray(Array.empty[Decision]).toSeq finally recent.clear()
  }

  /** Run `body` with each `op -> choice` pinned; the previous pins come
    * back when it ends, also when it throws. */
  private[graft] def forcing[A](pins: (String, String)*)(body: => A): A = {
    val prev = pinned
    pinned = prev ++ pins
    try body finally pinned = prev
  }
}
