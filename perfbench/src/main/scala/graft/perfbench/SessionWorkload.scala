package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.core.Json
import graft.engine.{GraphSession, Journal, MemGraph, Node, WarehouseSession}
import graft.ops.{Analytics, Traversals, ZTable}
import graft.query.Fetch

/** `session_10k`: graphydb's own interactive workload at its design size.
  * A MemGraph of ~5k nodes and ~5k edges (seeded kinds and props, FTS on
  * the Doc `title` field) under a seeded closed-loop mix of fetch chains,
  * batched edits with undo, GraphX analytics, a journal fold, and a durable
  * checkpoint: once a cycle the edits since the last checkpoint are
  * appended to a WarehouseGraph on disk and z-compacted incrementally,
  * and bloom-pruned point reads go to its z-tables. The benchmark keeps
  * its own model of the graph (and of the state as of the last
  * checkpoint) and checks every answer against it. Op parameters are drawn
  * before the clock starts; the model is updated in the op's check, after
  * it stops. */
final class SessionWorkload(ctx: Ctx) extends Workload {
  import SessionWorkload._

  private val spark = ctx.spark
  private val rng = ctx.rng
  private val nNodes = if (ctx.smoke) 500 else 5000
  private val nEdges = if (ctx.smoke) 500 else 5000

  // the benchmark's own model of the graph
  private val mNodes = mutable.HashMap.empty[String, MNode]
  private val mEdges = mutable.HashMap.empty[String, MEdge]
  private val mFts = mutable.HashMap.empty[String, String]
  private val pools = mutable.HashMap.empty[String, UidPool]
  private val edgePool = new UidPool
  // inverse of each window write batch, newest first: what undo must restore
  private val undoStack = mutable.Stack.empty[Inverse]
  private var g: MemGraph = _
  private var dirty = true
  // the durable checkpoint and the model's state as of its last increment
  private var ws: WarehouseSession = _
  private var whDir: Path = _
  private var ckSeq = 0L
  private var vNodes = Map.empty[String, MNode]
  private var vEdges = Map.empty[String, MEdge]
  private var vOut = Map.empty[String, Set[String]]
  private var vPersons = IndexedSeq.empty[String]
  private var gone = Seq.empty[String]
  // traced: bytes each increment wrote outside the journal, share of
  // z-files a point read listed
  private val incrementBytes = mutable.ArrayBuffer.empty[Long]
  private val listedFrac = mutable.ArrayBuffer.empty[Double]
  private var step = 0
  private var docsWritten = 0L

  private def pool(kind: String): UidPool = pools.getOrElseUpdate(kind, new UidPool)
  private def putNode(u: String, v: MNode): Unit = { mNodes(u) = v; pool(v.kind).add(u) }
  private def dropNode(u: String): Unit = mNodes.remove(u).foreach(v => pool(v.kind).remove(u))
  private def putEdge(u: String, v: MEdge): Unit = { mEdges(u) = v; edgePool.add(u) }
  private def dropEdge(u: String): Unit = if (mEdges.remove(u).isDefined) edgePool.remove(u)
  private def pickOf(kind: String): String = pool(kind).pick(rng)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
  private def title(): String = Seq.fill(4 + rng.nextInt(5))(pick(Vocab)).mkString(" ")

  private def nodeProps(kind: String, i: Int): Map[String, Any] = kind match {
    case "Person" => Map("name" -> s"person$i", "age" -> (18L + rng.nextInt(63)),
      "score" -> rng.nextInt(1000) / 10.0)
    case "Doc" => Map("title" -> title(), "year" -> (1990L + rng.nextInt(35)))
    case "Topic" => Map("name" -> s"topic${i % 50}")
    case _ => Map("name" -> s"org$i", "size" -> (1L + rng.nextInt(5000)))
  }

  private def edgePlan(): (String, String, String, Map[String, Any]) = {
    val (kind, sk, ek) = pick(EdgeKinds)
    (kind, pickOf(sk), pickOf(ek), Map("weight" -> (1L + rng.nextInt(10))))
  }

  // ------------------------------------------------------------------ setup

  def generate(): Unit = {
    mNodes.clear(); mEdges.clear(); mFts.clear(); undoStack.clear()
    pools.clear(); edgePool.clear()
    g = GraphSession.inMemory(spark)
    g.resetFts(nodeFields = Seq("title"))
    val batch = Some("seed")
    (0 until nNodes).foreach { i =>
      val kind = NodeKinds(i % NodeKinds.size)
      val props = nodeProps(kind, i)
      val n = g.nodeFromData(props + ("kind" -> kind)).save(batch = batch)
      if (kind == "Doc") { n.updatefts("title" -> props("title").toString); mFts(n.uid) = props("title").toString }
      putNode(n.uid, MNode(kind, props))
    }
    (0 until nEdges).foreach { _ =>
      val (kind, s, e, props) = edgePlan()
      putEdge(g.edge(s, kind, e, props.toSeq: _*).save(batch = batch).uid, MEdge(kind, s, e, props))
    }
    dirty = true
  }

  /** Seeds the durable checkpoint with the seed journal (the warm-up cycle
    * that follows runs every op kind). */
  def prepare(): Unit = {
    // the durable copy: the seed journal, z-compacted in full once
    whDir = ctx.workDir.resolve("session-warehouse")
    ws = GraphSession.open(spark, whDir.toString)
    ws.append(g.changesDf)
    ws.graph.compactZorder()
    ckSeq = lastSeq
    snapshotVisible()
  }

  // op kinds rotate in a fixed order (the seed draws their parameters),
  // so every run measures the same mix of kinds
  private var reads, writes, analytics = 0
  def cycle: Int = Cycle.length
  def beginWindow(warm: Boolean): Unit = { warming = warm; docsWritten = 0L }
  private var warming = false

  def next(): Op = {
    step += 1
    Cycle((step - 1) % Cycle.length) match {
      case 'r' => reads += 1; readOp((reads - 1) % ReadKinds)
      case 'w' => writes += 1; if (writes % 4 == 0 && undoStack.nonEmpty) undoOp() else writeOp()
      case 'a' => analytics += 1; analyticOp((analytics - 1) % 3)
      case 'm' => maintainOp()
      // the warm-up folds instead: an increment costs ~8 s, and the full
      // compaction in `prepare` has run most of its paths
      case _ => if (warming) maintainOp() else checkpointOp()
    }
  }

  /** A fetch through the public surface. Untraced: `fetchCount`/`fetchN`.
    * Traced: the same call split at the layer boundaries: snapshot rebuild,
    * `Fetch.sql`, `Fetch.df` + `executedPlan`, then the action. */
  private def fetch(args: Fetch.Args, count: Boolean): Long = {
    if (!ctx.tracer.enabled)
      return if (count) g.fetchCount(args.chain, args.where, params = args.params)
      else g.fetchN(args.chain, args.where, args.order, args.group, args.limit,
        params = args.params).size.toLong
    if (dirty) {
      ctx.span("engine.memgraph.snapshot") { g.nodes; g.edges; g.nodeFts }
      dirty = false
    }
    val a = if (count) args.copy(count = true, group = None) else args
    ctx.span("query.compile")(Fetch.sql(g, a))
    val df = ctx.span("catalyst.plan") {
      val d = Fetch.df(g, a); d.queryExecution.executedPlan; d
    }
    ctx.span("spark.exec")(if (count) df.head().getLong(0) else df.collect().length.toLong)
  }

  private def age(u: String): Long = mNodes(u).props("age").asInstanceOf[Long]

  private def readOp(kind: Int): Op = kind match {
    case 0 =>
      val a = 20 + rng.nextInt(55)
      Op("read", s"k$kind", () => {
        val got = fetch(Fetch.Args("(p:Person)", Seq(s"CAST(p.data.age AS INT) > $a")), count = true)
        () => {
          val want = pool("Person").all.count(age(_) > a)
          ctx.expect(got == want, s"person age>$a: got $got want $want")
        }
      })
    case 1 =>
      val a = 20 + rng.nextInt(55)
      Op("read", s"k$kind", () => {
        val got = fetch(Fetch.Args("[p:Person] -(e:Knows)> (q:Person)",
          Seq(s"CAST(q.data.age AS INT) < $a")), count = true)
        () => {
          val want = mEdges.values.collect { case MEdge("Knows", s, e, _) if age(e) < a => s }.toSet.size
          ctx.expect(got == want, s"knows-younger-than-$a: got $got want $want")
        }
      })
    case 2 =>
      val topic = s"topic${rng.nextInt(50)}"
      Op("read", s"k$kind", () => {
        val got = fetch(Fetch.Args("[p:Person] -(w:Wrote)> (d:Doc) -(a:About)> (t:Topic)",
          Seq(s"t.data.name = '$topic'")), count = true)
        () => {
          val docs = mEdges.values.collect {
            case MEdge("About", d, t, _) if mNodes(t).props("name") == topic => d }.toSet
          val want = mEdges.values.collect { case MEdge("Wrote", p, d, _) if docs(d) => p }.toSet.size
          ctx.expect(got == want, s"wrote-about-$topic: got $got want $want")
        }
      })
    case 3 =>
      // group/order/limit: the 10 highest Knows out-degrees
      val args = Fetch.Args("[p:Person,deg] -(e:Knows)>", group = Some("p.uid"),
        order = Some("deg DESC"), limit = Some(10), params = Map("deg" -> "COUNT(e.uid)"))
      Op("read", s"k$kind", () => {
        if (!ctx.tracer.enabled) {
          val got = g.fetchN(args.chain, group = args.group, order = args.order, limit = args.limit,
            params = args.params).toSeq.map(_.apply("_deg").asInstanceOf[Long]).sorted
          () => ctx.expect(got == topDegrees.take(10).sorted, s"top degrees: got $got want ${topDegrees.take(10)}")
        } else {
          val n = fetch(args, count = false)
          () => ctx.expect(n == math.min(10, topDegrees.size), s"top degrees rows: $n")
        }
      })
    case 4 =>
      val q = pick(Vocab).take(3) + "*"
      Op("read", s"k$kind", () => {
        val got = fetch(Fetch.Args("(d:Doc)", params = Map("d_fts" -> q)), count = true)
        () => {
          val hit: String => Boolean =
            if (q.endsWith("*")) _.startsWith(q.dropRight(1)) else _ == q
          val want = mFts.count { case (u, text) => mNodes.contains(u) && text.split(" ").exists(hit) }
          ctx.expect(got == want, s"fts $q: got $got want $want")
        }
      })
    case 5 =>
      val year = 1990 + rng.nextInt(35)
      val w = pick(Vocab)
      Op("read", s"k$kind", () => {
        val got = fetch(Fetch.Args("(d:Doc)", Seq(s"CAST(d.data.year AS INT) >= $year"),
          limit = Some(20), params = Map("d_fts" -> w)), count = false)
        () => {
          val want = math.min(20, mFts.count { case (u, text) =>
            mNodes.get(u).exists(_.props("year").asInstanceOf[Long] >= year) && text.split(" ").contains(w) })
          ctx.expect(got == want, s"fts $w year>=$year: got $got want $want")
        }
      })
    case 7 =>
      // a bloom-pruned point read of the checkpoint's z-tables
      val u = vPersons(rng.nextInt(vPersons.size))
      Op("read", "zpoint", () => {
        val rows = zScan("znodes", ws.graph.zPointNode(u), col("uid") === u)
        () => {
          val got = rows.map(r => MNode(r.getAs[String]("kind"), Json.parse(r.getAs[String]("props")))).toSeq
          ctx.expect(got == vNodes.get(u).toSeq, s"z point node $u: got $got want ${vNodes.get(u)}")
        }
      })
    case 8 =>
      val u = vPersons(rng.nextInt(vPersons.size))
      Op("read", "zout", () => {
        val rows = zScan("zedges", ws.graph.zOutEdges(u), col("startuid") === u)
        () => {
          val want = vOut.getOrElse(u, Set.empty)
          ctx.expect(rows.map(_.getAs[String]("uid")).toSet == want,
            s"z out edges of $u: got ${rows.length} want ${want.size}")
        }
      })
    case _ =>
      // the traversal helpers on a driver item handle
      val u = pickOf("Person")
      Op("read", s"k$kind", () => {
        val (outN, inE) =
          if (!ctx.tracer.enabled) {
            val node = g.getuid(u).get.asInstanceOf[Node]
            (node.outN().size.toLong, node.inE().size.toLong)
          } else (fetch(Fetch.Args("-(e)> [n]", Seq(s"e.startuid = '$u'")), count = false),
            fetch(Fetch.Args("<(e)-", Seq(s"e.enduid = '$u'")), count = false))
        () => {
          val wantOut = mEdges.values.collect { case MEdge(_, s, e, _) if s == u => e }.toSet.size
          val wantIn = mEdges.values.count(_.end == u)
          ctx.expect(outN == wantOut && inE == wantIn,
            s"outN/inE of $u: got ($outN, $inE) want ($wantOut, $wantIn)")
        }
      })
  }

  /** A bloom-pruned z-table read. Traced: through `ZTable.dataFrameWithIndex`,
    * which also reports the share of files the scan listed. */
  private def zScan(table: String, untraced: => DataFrame, pred: org.apache.spark.sql.Column): Array[Row] =
    if (!ctx.tracer.enabled) untraced.collect()
    else {
      val (df, fi) = ctx.span("ops.ztable.index")(ZTable.dataFrameWithIndex(spark, whDir.resolve(table).toString))
      val q = ctx.span("catalyst.plan") { val d = df.filter(pred); d.queryExecution.executedPlan; d }
      val rows = ctx.span("spark.exec")(q.collect())
      if (fi.lastListed >= 0) listedFrac += fi.lastListed.toDouble / math.max(1, fi.inputFiles.length)
      rows
    }

  private def topDegrees: Seq[Long] =
    mEdges.values.collect { case MEdge("Knows", s, _, _) => s }.groupBy(identity)
      .values.map(_.size.toLong).toSeq.sorted(Ordering[Long].reverse)

  /** One batched edit: 2 creates (one an Org, so Orgs never run out) with
    * 2 new edges, 3 modifies, 2 edge deletes and one Org deleted with its
    * edges. */
  private def writeOp(): Op = {
    val newNodes = (0 until 2).map { i =>
      val kind = if (i == 0) "Org" else pick(NodeKinds)
      (kind, nodeProps(kind, 100000 + step * 10 + i))
    }
    val newEdges = (0 until 2).map(_ => edgePlan())
    val mods = (0 until 3).map(_ => (pickOf("Person"), 18L + rng.nextInt(63)))
    val edgeDels = (0 until 2).map(_ => edgePool.pick(rng)).distinct
    val orgDel = Some(pickOf("Org"))
    Op("write", "batch", () => {
      val batch = Some(graft.core.Uid.random())
      val before = g.countChanges
      val created = newNodes.map { case (kind, props) =>
        val n = ctx.span("engine.memgraph.save")(g.nodeFromData(props + ("kind" -> kind)).save(batch = batch))
        if (kind == "Doc") n.updatefts("title" -> props("title").toString)
        n.uid -> MNode(kind, props)
      }
      val createdEdges = newEdges.map { case (kind, s, e, props) =>
        ctx.span("engine.memgraph.save")(g.edge(s, kind, e, props.toSeq: _*).save(batch = batch)).uid ->
          MEdge(kind, s, e, props)
      }
      mods.foreach { case (u, a) =>
        val n = g.getuid(u).get
        n("age") = a
        ctx.span("engine.memgraph.save")(n.save(batch = batch))
      }
      // an Org's edges may include a picked edge: delete edges first
      edgeDels.foreach(u => ctx.span("engine.memgraph.save")(g.getuid(u).get.delete(batch = batch)))
      orgDel.foreach(u =>
        ctx.span("engine.memgraph.save")(g.getuid(u).get.delete(disconnect = true, batch = batch)))
      val docs = g.countChanges - before
      dirty = true
      () => {
        val nodesBefore = mutable.LinkedHashMap.empty[String, Option[MNode]]
        val edgesBefore = mutable.LinkedHashMap.empty[String, Option[MEdge]]
        def noteNode(u: String): Unit = if (!nodesBefore.contains(u)) nodesBefore(u) = mNodes.get(u)
        def noteEdge(u: String): Unit = if (!edgesBefore.contains(u)) edgesBefore(u) = mEdges.get(u)
        created.foreach { case (u, v) =>
          noteNode(u); putNode(u, v)
          if (v.kind == "Doc") mFts(u) = v.props("title").toString
        }
        createdEdges.foreach { case (u, v) => noteEdge(u); putEdge(u, v) }
        mods.foreach { case (u, a) => noteNode(u); putNode(u, mNodes(u).copy(props = mNodes(u).props + ("age" -> a))) }
        edgeDels.foreach { u => noteEdge(u); dropEdge(u) }
        orgDel.foreach { u =>
          mEdges.collect { case (eu, e) if e.start == u || e.end == u => eu }.toSeq
            .foreach { eu => noteEdge(eu); dropEdge(eu) }
          noteNode(u); dropNode(u)
        }
        undoStack.push(Inverse(nodesBefore.toSeq, edgesBefore.toSeq, created.collect {
          case (u, v) if v.kind == "Doc" => u }.toSet))
        docsWritten += docs
        ctx.expect(docs > 0, "write batch journaled nothing")
      }
    })
  }

  private def undoOp(): Op = Op("write", "undo", () => {
    val before = g.countChanges
    val undone = ctx.span("engine.memgraph.undo")(g.undo())
    dirty = true
    () => {
      val inv = undoStack.pop()
      inv.nodes.foreach { case (u, v) => v.fold(dropNode(u))(putNode(u, _)) }
      inv.edges.foreach { case (u, v) => v.fold(dropEdge(u))(putEdge(u, _)) }
      // undoing a create deletes the item, and its FTS entry with it
      inv.createdDocs.foreach(mFts.remove)
      ctx.expect(undone.nonEmpty && g.countChanges < before, "undo reverted nothing")
    }
  })

  private def analyticOp(kind: Int): Op = {
    // hop distances from the best-connected person: a random start's
    // eccentricity, and with it the number of supersteps, varies per op
    val seed = if (kind != 1) "" else mEdges.values.iterator.flatMap(e => Iterator(e.start, e.end))
      .filter(u => mNodes.get(u).exists(_.kind == "Person")).toSeq.groupBy(identity)
      .maxBy { case (u, xs) => (xs.size, u) }._1
    Op("analytic", Seq("pagerank", "hops", "cc")(kind), () => {
      if (ctx.tracer.enabled) ctx.span("ops.traversals.graphx_build")(Traversals.graphXOf(g))
      kind match {
        case 0 =>
          val n = ctx.span("ops.analytics.pagerank")(
            Analytics.staticPageRank(spark, g, numIter = 5).collect().length)
          () => ctx.expect(n == mNodes.size, s"pagerank rows $n want ${mNodes.size}")
        case 1 =>
          val hist = ctx.span("ops.analytics.hop_distances")(
            Analytics.hopDistances(spark, g, seed).groupBy("dist").count().collect()
              .map(r => r.getInt(0) -> r.getLong(1)).toMap)
          () => {
            val want = bfsHistogram(seed)
            ctx.expect(hist == want, s"hop histogram from $seed: got $hist want $want")
          }
        case _ =>
          val comps = ctx.span("ops.analytics.cc")(
            Analytics.connectedComponents(spark, g).select("component").distinct().count())
          () => {
            val want = componentCount
            ctx.expect(comps == want, s"components: got $comps want $want")
          }
      }
    })
  }

  /** The journal → snapshot fold that recovery and compaction run; its
    * result must equal the working set's own snapshot. */
  private def maintainOp(): Op = Op("maintain", "fold", () => {
    val snap = ctx.span("engine.journal.fold")(Journal.fold(spark, g.changesDf, Long.MaxValue))
    () => {
      val ok = rowsOf(snap.nodes, edge = false) == rowsOf(g.nodes, edge = false) &&
        rowsOf(snap.edges, edge = true) == rowsOf(g.edges, edge = true)
      ctx.expect(ok, "Journal.fold(changesDf) differs from the MemGraph snapshot") &&
        ctx.expect(modelMatches, "MemGraph snapshot differs from the benchmark's model")
    }
  })

  /** The durable checkpoint: the journal rows since the last checkpoint
    * are appended to the warehouse and one `compactZorderIncremental`
    * makes them visible to z-table reads. An undo never reaches back past
    * a checkpoint. */
  private def checkpointOp(): Op = {
    val before = if (ctx.tracer.enabled) Disk.files(whDir) else Map.empty[String, Long]
    Op("maintain", "checkpoint", () => {
      val top = lastSeq
      ctx.span("engine.warehouse.append")(ws.append(g.changesDf.filter(col("seq") > ckSeq)))
      val r = ctx.span("ops.layout.increment")(ws.graph.compactZorderIncremental())
      () => {
        ckSeq = top
        undoStack.clear()
        if (ctx.tracer.enabled) {
          val journal = whDir.resolve("journal").toString
          incrementBytes += Disk.files(whDir).collect {
            case (f, b) if !before.get(f).contains(b) && !f.startsWith(journal) => b }.sum
        }
        val seen = vNodes.keySet ++ vEdges.keySet
        snapshotVisible()
        gone = (seen -- vNodes.keySet -- vEdges.keySet).toSeq.sorted.take(2)
        ctx.expect(r._1 >= 0, "increment failed") && checkVisible()
      }
    })
  }

  /** The highest journal seq (seqs only grow; undo drops rows, not seqs). */
  private def lastSeq: Long = g.lastChanges().map(_.seq).maxOption.getOrElse(ckSeq)

  private def snapshotVisible(): Unit = {
    vNodes = mNodes.toMap
    vEdges = mEdges.toMap
    vOut = vEdges.toSeq.groupMap(_._2.start)(_._1).map { case (k, v) => k -> v.toSet }
    vPersons = pool("Person").all.toIndexedSeq
  }

  /** zView counts, sampled point payloads and the items deleted since the
    * previous checkpoint against the model. */
  private def checkVisible(): Boolean = {
    val zv = ws.graph.zView
    val nodes = zv.nodes.count()
    val edges = zv.edges.count()
    val payloadsOk = (Seq(pickOf("Person"), pickOf("Doc")) ++ gone).forall { u =>
      val got = ws.graph.zPointNode(u).collect().map(r =>
        MNode(r.getAs[String]("kind"), Json.parse(r.getAs[String]("props")))).toSeq
      val gotE = ws.graph.zEdges.filter(col("uid") === u).collect().map(r =>
        MEdge(r.getAs[String]("kind"), r.getAs[String]("startuid"), r.getAs[String]("enduid"),
          Json.parse(r.getAs[String]("props")))).toSeq
      ctx.expect(got == vNodes.get(u).toSeq && gotE == vEdges.get(u).toSeq, s"z payload of $u: got $got $gotE")
    }
    ctx.expect(nodes == vNodes.size, s"zView nodes $nodes want ${vNodes.size}") &&
      ctx.expect(edges == vEdges.size, s"zView edges $edges want ${vEdges.size}") &&
      payloadsOk
  }

  private def rowsOf(df: DataFrame, edge: Boolean): Set[(String, String, String, String, Map[String, Any])] =
    df.collect().map { r =>
      (r.getAs[String]("uid"), r.getAs[String]("kind"),
        if (edge) r.getAs[String]("startuid") else "", if (edge) r.getAs[String]("enduid") else "",
        Json.parse(r.getAs[String]("props")))
    }.toSet

  private def modelMatches: Boolean = {
    val n = rowsOf(g.nodes, edge = false).map(t => t._1 -> MNode(t._2, t._5)).toMap
    val e = rowsOf(g.edges, edge = true).map(t => t._1 -> MEdge(t._2, t._3, t._4, t._5)).toMap
    n == mNodes.toMap && e == mEdges.toMap
  }

  private def bfsHistogram(seed: String): Map[Int, Long] = {
    val adj = mEdges.values.toSeq.flatMap(e => Seq(e.start -> e.end, e.end -> e.start)).groupMap(_._1)(_._2)
    val dist = mutable.HashMap(seed -> 0)
    val q = mutable.Queue(seed)
    while (q.nonEmpty) {
      val u = q.dequeue()
      adj.getOrElse(u, Nil).foreach(v => if (!dist.contains(v)) { dist(v) = dist(u) + 1; q.enqueue(v) })
    }
    dist.values.groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
  }

  private def componentCount: Long = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    mEdges.values.foreach { e =>
      val (a, b) = (find(e.start), find(e.end))
      if (a != b) parent(a) = b
    }
    mNodes.keysIterator.map(find).toSet.size.toLong
  }

  // ---------------------------------------------------------------- results


  def extras(w: Window): Map[String, Double] = Map(
    "docs_per_s" -> docsWritten / w.seconds,
    "space_amp" -> spaceAmp())

  /** Bytes under the checkpoint's warehouse over its live nodes and
    * edges written once as plain parquet. */
  private def spaceAmp(): Double = {
    val zv = ws.graph.zView
    val plain = ctx.workDir.resolve("session-plain")
    zv.nodes.coalesce(1).write.mode("overwrite").parquet(plain.resolve("nodes").toString)
    zv.edges.coalesce(1).write.mode("overwrite").parquet(plain.resolve("edges").toString)
    Disk.bytesUnder(whDir).toDouble / Disk.bytesUnder(plain)
  }

  def layerMetrics(w: Window): Map[String, Double] = {
    val mb = incrementBytes.map(_ / 1048576.0)
    val journal = Disk.bytesUnder(whDir.resolve("journal"))
    Map(
      "ops.layout.rewrite_mb_per_increment" -> (if (mb.isEmpty) 0.0 else Main.median(mb.toSeq)),
      "ops.layout.write_amp" -> Disk.bytesUnder(whDir).toDouble / math.max(1L, journal),
      "ops.ztable.files_listed_frac" -> (if (listedFrac.isEmpty) 0.0 else Main.median(listedFrac.toSeq)))
  }

}

object SessionWorkload {
  final case class MNode(kind: String, props: Map[String, Any])
  final case class MEdge(kind: String, start: String, end: String, props: Map[String, Any])
  final case class Inverse(nodes: Seq[(String, Option[MNode])], edges: Seq[(String, Option[MEdge])],
      createdDocs: Set[String])

  val NodeKinds = IndexedSeq("Person", "Person", "Doc", "Doc", "Topic", "Org")
  // (edge kind, start kind, end kind)
  val EdgeKinds = IndexedSeq(("Knows", "Person", "Person"), ("Knows", "Person", "Person"),
    ("Wrote", "Person", "Doc"), ("About", "Doc", "Topic"), ("WorksAt", "Person", "Org"))
  val Vocab: IndexedSeq[String] = ("graph spark query chain fetch node edge journal undo batch " +
    "index token search match prefix phrase rank score page hop path tree forest river stone " +
    "cloud rain storm wind light dark north south east west alpha beta gamma delta omega " +
    "apple berry cherry grape lemon mango olive peach plum melon table chair window door " +
    "garden market harbor island valley canyon desert meadow summit glacier").split(" ").toIndexedSeq
  // per round: every read kind once, each analytic once, two journal
  // folds, each followed by three writes (every fourth write an undo);
  // per cycle: two rounds, then the checkpoint (C)
  val Round: String = "rarrmrarrramrr".map(_.toString + "www").mkString
  val Cycle: String = Round + Round + "C"
  val ReadKinds = 9
}

/** Uids with O(1) add, remove and uniform pick. */
final class UidPool {
  private val items = mutable.ArrayBuffer.empty[String]
  private val pos = mutable.HashMap.empty[String, Int]
  def add(u: String): Unit = if (!pos.contains(u)) { pos(u) = items.size; items += u }
  def remove(u: String): Unit = pos.remove(u).foreach { i =>
    val last = items.remove(items.size - 1)
    if (i < items.size) { items(i) = last; pos(last) = i }
  }
  def pick(rng: scala.util.Random): String = items(rng.nextInt(items.size))
  def all: Iterator[String] = items.iterator
  def clear(): Unit = { items.clear(); pos.clear() }
}

object Disk {
  /** Regular files under `p` with their sizes. */
  def files(p: java.nio.file.Path): Map[String, Long] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      } finally s.close()
    }
  def bytesUnder(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
