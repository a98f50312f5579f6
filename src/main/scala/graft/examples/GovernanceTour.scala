package graft.examples

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Runnable tour of the governance / serving surfaces added in round 10
  * — RBAC, typed schemas, transactions, PITR, RAG, LLM tools, and the
  * dashboard — against the bundled testdata. Compiled with the library
  * (so it cannot rot) and runnable standalone:
  *
  *   bash tools/run_main.sh graft.examples.GovernanceTour \
  *       /root/testdata/sf0.001
  */
object GovernanceTour {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(4)

    val docs = Tables.load(spark, sfDir, "documents")

    // ------------------------------------------------------------- RBAC
    import graft.ops.Rbac._
    val rbac = new PolicyEngine()
    rbac.addPolicy(RbacPolicy("documents")
      .addRule(PolicyRule("analyst").allow(Permission.Read)
        .withRowFilter("lang", "en")
        .withVisibleFields(Seq("lang", "source"))))
    val visible = rbac.secureRead(
      docs.select("doc_id", "lang", "source", "n_chars"), "documents",
      AccessToken("ana", Seq("analyst")),
      metadataCols = Seq("lang", "source", "n_chars"))
    println(s"== RBAC: analyst sees ${visible.count()} en rows, " +
      s"columns ${visible.columns.mkString(",")}")

    // ----------------------------------------------------- typed schema
    import graft.ops.TypedSchema._
    val schema = SchemaDefinition("documents")
      .field("lang", FieldType.Str, required = true)
      .field("n", FieldType.IntT, required = true).strict
    val meta = concat(lit("{\"lang\":\""), col("lang"), lit("\",\"n\":"),
      when(col("doc_id") % 9 === 0, concat(lit("\""), col("n_chars"),
        lit("\""))).otherwise(col("n_chars").cast("string")), lit("}"))
    val errors = graft.ops.TypedSchema.validate(
      docs.limit(200).withColumn("m", meta), col("doc_id"), col("m"), schema)
    println(s"== TypedSchema: ${errors.count()} planted type errors found")

    // ------------------------------------------------------ transactions
    import graft.ops.Transactions._
    val txm = new TransactionManager(spark)
    txm.register("kv", docs.limit(50)
      .select(col("doc_id").cast("string").as("id"),
        array(col("n_chars").cast("float")).as("vector"),
        col("source").as("metadata")))
    val tx = txm.begin()
    txm.addOperation(tx, TxOperation.Upsert("kv", "1", Array(42f), None))
    txm.addOperation(tx, TxOperation.Delete("kv", "2"))
    val receipt = txm.commit(tx)
    println(s"== Transactions: ${receipt.operationsApplied} ops committed " +
      s"atomically to ${receipt.collectionsAffected.mkString(",")}")

    // -------------------------------------------------------------- PITR
    import graft.ops.Pitr._
    val backupDir =
      java.nio.file.Files.createTempDirectory("graft-tour-pitr").toString
    val pitr = new PitrService(spark, PitrConfig(backupDir),
      () => Seq("kv"), _ => txm.collection("kv"),
      (n, df) => txm.register(n, df))
    val snap = pitr.createSnapshot("before-wreck")
    println(s"== PITR: snapshot ${snap.id} " +
      s"(${snap.totalVectors} vectors, checksum ${snap.checksum.get.take(12)}…)")
    val restored = pitr.recoverTo(RecoveryTarget.Latest)
    println(s"   recovered ${restored.vectorsRestored} vectors from " +
      restored.restorePointId)

    // --------------------------------------------------------------- RAG
    val rag = graft.ops.Rag
    val cfg = rag.RagConfig(dims = 32, chunkSize = 30, chunkOverlap = 5)
    val ix = rag.index(docs.limit(100), col("doc_id"), col("text"), cfg)
    val firstText = docs.orderBy("doc_id").select("text").head().getString(0)
    val answer = rag.ask(ix, firstText, topK = 2, cfg)
    println(s"== RAG: ${ix.count()} chunks indexed; top source doc " +
      s"${answer.sources.head.docId} at distance " +
      s"${answer.sources.head.distance}")

    // --------------------------------------------------- LLM tools + UI
    val api = new graft.server.RestApi(spark)
    val tools = new graft.server.LlmTools(api, embedDims = 32)
    tools.execute("needle_create_collection",
      """{"name":"tour","dimensions":32}""")
    tools.execute("needle_insert",
      """{"collection":"tour","id":"a","text":"spark native analytics"}""")
    val hit = tools.execute("needle_search",
      """{"collection":"tour","query":"spark native analytics","k":1}""")
    println(s"== LlmTools: ${tools.size} tools; search success=" +
      s"${hit.success}")
    val ui = new graft.server.WebUi(api)
    val (status, _, stats) = ui.handle("GET", "/api/stats")
    println(s"== WebUi: /api/stats -> $status $stats")

    spark.stop()
  }
}
