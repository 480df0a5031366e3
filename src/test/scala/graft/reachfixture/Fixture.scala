package graft.reachfixture

import org.apache.spark.sql.Encoders

/** A small program for ReachabilitySpec's self-test, rooted at
  * [[Entry.main]]. It is compiled, never run. The comments say what
  * the check must conclude about each member.
  */
object Entry {
  def main(args: Array[String]): Unit = {
    Seq(Lambdas.Inlined).map(x => Lambdas.fromLambda(x))
    val b: Base = Overrides
    b.run()
    Class.forName("graft.reachfixture.ByString")
    Encoders.product[Encoded]
  }
}

object Lambdas {
  // not flagged: scalac inlines the constant at its use in Entry.main
  final val Inlined = 3
  // reached: called only inside the lambda body in Entry.main
  def fromLambda(x: Int): Int = x + 1
  // flagged: nothing calls it
  def uncalled(): Int = 0
}

trait Base { def run(): Int }

// reached: run overrides Base.run, which Entry.main calls virtually
object Overrides extends Base { def run(): Int = 1 }

// reached: named only in a string constant
final class ByString

// reached: named only through the encoder's TypeTag
case class Encoded(x: Int)

// flagged: no reached code names it
object Orphan { def unused(): Int = 2 }
