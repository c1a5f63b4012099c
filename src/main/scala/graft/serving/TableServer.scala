package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame

import graft.api.GTable

/** HTTP serving face — the faust `@app.page(path)` views and
  * `@app.table_route(table, match_info)` key routing
  * (`/root/reference/faust/app/base.py:1218-1284`,
  * `faust/web/views.py:30-265`, router `faust/app/router.py:25-77`)
  * on one JDK-builtin endpoint (zero new dependencies).
  *
  * Two serving tiers per table:
  *
  *  - **hot** (`hot = true`, the default posture for read traffic):
  *    lookups hit a [[SnapshotIndex]] — a refreshable in-memory map
  *    with pre-rendered JSON, the worker-local-RocksDB parity of
  *    `faust/stores/rocksdb.py:135-478`. The request path does ZERO
  *    Spark work; staleness is bounded by the refresh cadence
  *    (`refresh(name)` / `POST /refresh/{name}`, typically wired into
  *    the changelog `foreachBatch`). An index miss falls back to the
  *    cold tier once, so keys written after the last refresh are
  *    still served (at cold-tier cost) rather than 404'd.
  *  - **cold** (`hot = false`): each lookup is a driver-side
  *    partition-pruned point scan (predicate pushdown to the
  *    snapshot's storage) — always current, pays a Spark job per GET.
  *    Right for tables too large for [[SnapshotIndex]]'s row guard or
  *    for rare admin queries.
  *
  * Faust routes a key lookup to the worker OWNING the key's
  * partition; here every serving replica holds the full (guarded)
  * index, which deletes the router/assignor concepts while keeping
  * the user-facing contract: `GET /table/{name}/{key}` returns the
  * table's row(s) for the key as JSON, with `X-Snapshot-Version` /
  * `X-Snapshot-Age-Millis` headers on hot hits so callers can bound
  * staleness.
  *
  * Requests run on a pooled executor (not the dispatcher thread), so
  * concurrent lookups don't serialize behind each other.
  *
  * Responses go out with TCP_NODELAY on. The JDK server flushes the
  * headers inside `sendResponseHeaders` and writes the body after, so
  * each response is two small segments; with Nagle on, the body waits
  * for the client's delayed ACK of the headers, ~40 ms, on every
  * kept-alive request (faustbench/NOTES.md "The 44 ms kept-alive
  * stall"). The JDK exposes no socket, so the switch is the
  * `sun.net.httpserver.nodelay` property, set unless `-D` already set
  * it. Ordering limit: the JDK reads it once, when the JVM's first
  * `HttpServer` is created; if other code creates one before the first
  * `TableServer`, the setting is silently ignored. ServingSpec's
  * kept-alive case fails if that happens in the test JVM.
  */
final class TableServer(port: Int = 0, nThreads: Int = 16) {

  private case class Route(snapshot: () => DataFrame, keyCol: String,
                           numericKey: Boolean,
                           index: Option[HotIndex])

  private val tables = TrieMap.empty[String, Route]
  private val pages = TrieMap.empty[String, Map[String, String] => String]

  // daemon threads: a constructed-but-never-stopped server (e.g. an
  // exception between construction and start()) must not pin the JVM
  private val pool = Executors.newFixedThreadPool(nThreads, r => {
    val t = new Thread(r, "table-server-worker")
    t.setDaemon(true)
    t
  })
  sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(pool)

  /** Register a queryable table (the `@app.table_route` surface).
    * `numericKey = true` parses the path key segment as Long so the
    * pushed-down cold-tier predicate matches integer key columns.
    * `hot = true` builds a [[SnapshotIndex]] over the snapshot —
    * call [[refresh]] (or let [[start]] do the initial load) before
    * serving reads. `maxIndexRows` is the hot tier's row guard.
    */
  def serveTable(name: String, snapshot: () => DataFrame, keyCol: String,
                 numericKey: Boolean = false, hot: Boolean = false,
                 maxIndexRows: Long = 2_000_000L): TableServer = {
    val idx = if (hot) Some(new SnapshotIndex(snapshot, keyCol, maxIndexRows))
              else None
    tables.put(name, Route(snapshot, keyCol, numericKey, idx))
    this
  }

  /** Register a table served hot through a [[ShardedSnapshotIndex]] —
    * the faust `table_route` partition-ownership posture
    * (`faust/app/router.py:25-77`): the key's consistent-hash shard
    * answers from ITS in-memory slice, so tables bigger than one
    * index's row guard stay hot (capacity = `nShards ×
    * maxRowsPerShard`). Responses carry `X-Shard-Id` so callers can
    * observe placement (the router parity surface).
    */
  def serveTableSharded(name: String, snapshot: () => DataFrame,
                        keyCol: String, nShards: Int,
                        numericKey: Boolean = false,
                        maxRowsPerShard: Long = 2_000_000L): TableServer = {
    val idx = new ShardedSnapshotIndex(snapshot, keyCol, nShards, numericKey,
      maxRowsPerShard)
    tables.put(name, Route(snapshot, keyCol, numericKey, Some(idx)))
    this
  }

  /** Register a custom view (the `@app.page` surface): handler gets
    * the query params, returns a response body.
    */
  def page(path: String)(handler: Map[String, String] => String): TableServer = {
    pages.put(path, handler)
    this
  }

  /** Rebuild a hot table's index from its snapshot (the foreachBatch
    * hook). Returns the new index version; 0 if the table is cold or
    * unknown.
    */
  def refresh(name: String): Long =
    tables.get(name).flatMap(_.index).map(_.refresh()).getOrElse(0L)

  /** Rebuild every hot index. */
  def refreshAll(): Unit =
    tables.values.foreach(_.index.foreach(_.refresh()))

  def start(): TableServer = {
    // initial hot load, so the first GET never cold-starts; if a row
    // guard trips here, release the already-bound socket and pool
    // before rethrowing — repeated construct-and-fail must not leak
    try refreshAll()
    catch { case e: Throwable => stop(); throw e }
    server.createContext("/table/", (ex: HttpExchange) => handleTable(ex))
    server.createContext("/refresh/", (ex: HttpExchange) => handleRefresh(ex))
    pages.foreach { case (path, handler) =>
      server.createContext(path, (ex: HttpExchange) => handlePage(ex, handler))
    }
    server.start()
    this
  }

  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = {
    server.stop(0)
    // interrupt in-flight cold-tier lookups and wait briefly so no
    // Spark job is still running after stop() returns
    pool.shutdownNow()
    pool.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handleTable(ex: HttpExchange): Unit =
    try {
      // path: /table/{name}/{key}
      ex.getRequestURI.getPath.stripPrefix("/table/").split("/", 2) match {
        case Array(name, rawKey) if tables.contains(name) && rawKey.nonEmpty =>
          val route = tables(name)
          val key: Any =
            if (route.numericKey) java.lang.Long.parseLong(rawKey) else rawKey
          route.index match {
            case Some(idx) =>
              // one atomic read: body + the version/age of the SAME
              // snapshot (separate reads could label an old body with
              // a concurrent refresh's new version)
              idx.lookupWithMeta(key) match {
                case Some((body, version, refreshedAt)) =>
                  ex.getResponseHeaders.set("X-Snapshot-Version",
                    version.toString)
                  ex.getResponseHeaders.set("X-Snapshot-Age-Millis",
                    (System.currentTimeMillis() - refreshedAt).toString)
                  ex.getResponseHeaders.set("X-Shard-Id",
                    idx.shardOf(key).toString)
                  respond(ex, 200, body)
                case None => coldLookup(ex, route, key) // post-refresh keys
              }
            case None => coldLookup(ex, route, key)
          }
        case _ => respond(ex, 404, s"""{"error":"unknown table"}""")
      }
    } catch {
      case e: Exception => respond(ex, 500,
        s"""{"error":"${e.getClass.getSimpleName}"}""")
    }

  private def coldLookup(ex: HttpExchange, route: Route, key: Any): Unit = {
    val rows = GTable.lookup(route.snapshot(), route.keyCol, key)
    if (rows.isEmpty) respond(ex, 404, s"""{"error":"key not found"}""")
    else respond(ex, 200, JsonRows.render(rows))
  }

  private def handleRefresh(ex: HttpExchange): Unit =
    try {
      val name = ex.getRequestURI.getPath.stripPrefix("/refresh/")
      if (ex.getRequestMethod != "POST")
        // the rebuild is expensive and state-mutating — never run it
        // off a crawler's GET
        respond(ex, 405, s"""{"error":"use POST"}""")
      else if (!tables.contains(name))
        respond(ex, 404, s"""{"error":"unknown table"}""")
      else {
        val v = refresh(name)
        respond(ex, 200, s"""{"table":"$name","version":$v}""")
      }
    } catch {
      case e: Exception => respond(ex, 500,
        s"""{"error":"${e.getClass.getSimpleName}"}""")
    }

  private def handlePage(ex: HttpExchange,
                         handler: Map[String, String] => String): Unit =
    try {
      val params = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      respond(ex, 200, handler(params))
    } catch {
      case e: Exception => respond(ex, 500,
        s"""{"error":"${e.getClass.getSimpleName}"}""")
    }
}
