package graft.schemer

object WitnessEquality {
  /** Witness equality including field order and BigDecimal scales (`==` on
   *  a Scala BigDecimal ignores scales; Java's `equals` does not). */
  def exact(a: Witness, b: Witness): Boolean = (a, b) match {
    case (WNum(a1, a2, s), WNum(b1, b2, t)) => s == t && a1.bigDecimal == b1.bigDecimal && a2.bigDecimal == b2.bigDecimal
    case (WArr(x), WArr(y)) => exact(x, y)
    case (WMap(x), WMap(y)) => exact(x, y)
    case (WObj(xs), WObj(ys)) =>
      xs.size == ys.size && xs.zip(ys).forall { case ((k, x), (l, y)) => k == l && exact(x, y) }
    case _ => a == b
  }
}
