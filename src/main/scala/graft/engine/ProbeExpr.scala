package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the executor-local membership probes
  * (and, below them, the round's other per-row helpers: the round number
  * as a parameter, the 429 host horizons, the URL functions and the
  * robots prefix check).
  *
  * The probes run on EVERY candidate link of every round (the crawl's
  * hottest scalar path after the fetch itself): a Scala UDF there pays
  * per-row boxing plus both catalyst converter directions (`ScalaUDF`
  * codegen routes every argument and result through CatalystTypeConverters).
  * These expressions skip all of that — `doGenCode` emits a direct
  * monomorphic call on a referenced config object with PRIMITIVE
  * `(int, long)` arguments, so the generated stage reads columns and calls
  * the probe with zero allocation per row. `eval` covers interpreted mode.
  *
  * The probe logic itself (each executor-cached [[KeyLog]] run's filter,
  * then its sorted-run binary search) lives on the config case classes —
  * shared verbatim between eval and codegen.
  */
object ProbeExpr {

  /** `(hostBucket, urlHash) → live-seen` probe: each key run's filter,
    * then its exact binary search, with TTL liveness at round `round`
    * (`ttl ≤ 0` = seen-forever). The seen state is never scanned.
    */
  case class SeenCfg(keyDirs: IndexedSeq[String], round: Int, ttl: Int) {
    def probe(b: Int, h: Long): Boolean =
      keyDirs.exists(KeyLogCache.get(_, b).contains(h)(sr => ttl <= 0 || round - sr < ttl))
  }

  /** `(hostBucket, urlHash) → live frontier member` probe (RefOracle's
    * `frontier.contains`): some add run holds a version no tombstone killed.
    */
  case class MemberCfg(addDirs: IndexedSeq[String], remDirs: IndexedSeq[String]) {
    def probe(b: Int, h: Long): Boolean = {
      def removed(s: Int): Boolean = remDirs.exists(KeyLogCache.get(_, b).contains(h)(_ == s))
      addDirs.exists(KeyLogCache.get(_, b).contains(h)(s => !removed(s)))
    }
  }

  /** `(hostBucket, urlHash, addedSeq) → removed` probe: a tombstone
    * carries the addedSeq of the exact frontier version it kills, so the
    * delta log resolves by pair lookup — no max-version scan, no shuffle.
    */
  case class RemovedCfg(remDirs: IndexedSeq[String]) {
    def probe(b: Int, h: Long, s: Int): Boolean =
      remDirs.exists(KeyLogCache.get(_, b).contains(h)(_ == s))
  }

  case class SeenLive(cfg: SeenCfg, left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "seen_live"
    override protected def nullSafeEval(b: Any, h: Any): Any =
      cfg.probe(b.asInstanceOf[Int], h.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("seenCfg", cfg,
        classOf[SeenCfg].getName)
      nullSafeCodeGen(ctx, ev, (b, h) => s"${ev.value} = $ref.probe($b, $h);")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SeenLive =
      copy(left = newLeft, right = newRight)
  }

  case class MemberLive(cfg: MemberCfg, left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "frontier_member_live"
    override protected def nullSafeEval(b: Any, h: Any): Any =
      cfg.probe(b.asInstanceOf[Int], h.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("memberCfg", cfg,
        classOf[MemberCfg].getName)
      nullSafeCodeGen(ctx, ev, (b, h) => s"${ev.value} = $ref.probe($b, $h);")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): MemberLive =
      copy(left = newLeft, right = newRight)
  }

  case class RemovedPair(cfg: RemovedCfg, first: Expression, second: Expression,
      third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "frontier_tombstoned"
    override protected def nullSafeEval(b: Any, h: Any, s: Any): Any =
      cfg.probe(b.asInstanceOf[Int], h.asInstanceOf[Long], s.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("removedCfg", cfg,
        classOf[RemovedCfg].getName)
      nullSafeCodeGen(ctx, ev,
        (b, h, s) => s"${ev.value} = $ref.probe($b, $h, $s);")
    }
    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): RemovedPair =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** A per-call int constant that does NOT enter the generated code: the
    * value rides in the `references` array, so every crawl round compiles
    * the same Java and the classes stay in Spark's codegen cache across
    * rounds (a `lit(round)` inlines the number and makes each round's
    * classes new). Non-foldable, so the optimizer never turns it back into
    * a literal. The price is that parquet filter pushdown cannot see it:
    * keep `lit` where a scan filter needs row-group pruning.
    */
  case class IntParam(value: Int) extends LeafExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override def prettyName: String = "param"
    override def eval(input: InternalRow): Any = value
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("param", Integer.valueOf(value),
        classOf[Integer].getName)
      ev.copy(code = code"final int ${ev.value} = $ref.intValue();",
        isNull = FalseLiteral)
    }
  }

  def param(value: Int): Column = bridge.toColumn(IntParam(value))

  /** One round's rate-limited hosts → the round each may be fetched again
    * (the 429 Retry-After horizon). A driver-side map, like the build side
    * of the broadcast join it replaces, shipped inside the plan's
    * references, so the generated code is the same for every round and
    * every map (empty included).
    */
  case class DeferralCfg(until: Map[String, Int]) {
    @transient private lazy val byHost = {
      val m = new java.util.HashMap[UTF8String, Integer]()
      until.foreach { case (h, r) => m.put(UTF8String.fromString(h), r) }
      m
    }
    /** The host's horizon, or null when the host was not rate-limited. */
    def lookup(host: UTF8String): Integer = byHost.get(host)
  }

  case class HostDeferral(cfg: DeferralCfg, child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "host_deferral"
    override def eval(input: InternalRow): Any = {
      val h = child.eval(input)
      if (h == null) null else cfg.lookup(h.asInstanceOf[UTF8String])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("deferralCfg", cfg,
        classOf[DeferralCfg].getName)
      val c = child.genCode(ctx)
      val until = ctx.freshName("until")
      ev.copy(code = code"""
        ${c.code}
        java.lang.Integer $until = ${c.isNull} ? null : $ref.lookup(${c.value});
        boolean ${ev.isNull} = $until == null;
        int ${ev.value} = ${ev.isNull} ? -1 : $until.intValue();""")
    }
    override protected def withNewChildInternal(newChild: Expression): HostDeferral =
      copy(child = newChild)
  }

  /** A `String => String` function (the URL canonicalization helpers of
    * [[graft.core.Canon]]) as a native expression: a `ScalaUDF` would route
    * every value through encoder-built converters, two more generated
    * classes per round. Null in, null out.
    */
  case class StringFn(name: String, f: String => String, child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = name
    override protected def nullSafeEval(s: Any): Any =
      UTF8String.fromString(f(s.toString))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stringFn", f, classOf[Function1[_, _]].getName)
      defineCodeGen(ctx, ev, s => s"UTF8String.fromString((String) $ref.apply($s.toString()))")
    }
    override protected def withNewChildInternal(newChild: Expression): StringFn =
      copy(child = newChild)
  }

  def stringFn(name: String, f: String => String)(s: Column): Column =
    bridge.toColumn(StringFn(name, f, bridge.toExpression(s)))

  /** `exists(prefixes, p -> startsWith(path, p))` as a native expression:
    * the higher-order `exists` is interpreted-only (`CodegenFallback`),
    * which keeps its whole projection out of the generated stage. Same
    * three-valued result: null when no prefix matches and some prefix is
    * null.
    */
  case class AnyPrefix(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "any_prefix"
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val ps = left.eval(input)
      val path = right.eval(input)
      if (ps == null || path == null) null
      else {
        val arr = ps.asInstanceOf[ArrayData]
        val s = path.asInstanceOf[UTF8String]
        var sawNull = false
        var i = 0
        while (i < arr.numElements()) {
          if (arr.isNullAt(i)) sawNull = true
          else if (s.startsWith(arr.getUTF8String(i))) return true
          i += 1
        }
        if (sawNull) null else false
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ps = left.genCode(ctx)
      val path = right.genCode(ctx)
      val i = ctx.freshName("i")
      val sawNull = ctx.freshName("sawNull")
      ev.copy(code = code"""
        ${ps.code}
        ${path.code}
        boolean ${ev.isNull} = ${ps.isNull} || ${path.isNull};
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          boolean $sawNull = false;
          for (int $i = 0; $i < ${ps.value}.numElements() && !${ev.value}; $i++) {
            if (${ps.value}.isNullAt($i)) $sawNull = true;
            else ${ev.value} = ${path.value}.startsWith(${ps.value}.getUTF8String($i));
          }
          ${ev.isNull} = !${ev.value} && $sawNull;
        }""")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): AnyPrefix =
      copy(left = newLeft, right = newRight)
  }

  def anyPrefix(prefixes: Column, path: Column): Column =
    bridge.toColumn(AnyPrefix(bridge.toExpression(prefixes), bridge.toExpression(path)))

  def hostDeferral(cfg: DeferralCfg)(host: Column): Column =
    bridge.toColumn(HostDeferral(cfg, bridge.toExpression(host)))

  def seenLive(cfg: SeenCfg)(bucket: Column, hash: Column): Column =
    bridge.toColumn(SeenLive(cfg,
      bridge.toExpression(bucket), bridge.toExpression(hash)))

  def memberLive(cfg: MemberCfg)(bucket: Column, hash: Column): Column =
    bridge.toColumn(MemberLive(cfg,
      bridge.toExpression(bucket), bridge.toExpression(hash)))

  def removedPair(cfg: RemovedCfg)(bucket: Column, hash: Column,
      seq: Column): Column =
    bridge.toColumn(RemovedPair(cfg, bridge.toExpression(bucket),
      bridge.toExpression(hash), bridge.toExpression(seq)))
}
