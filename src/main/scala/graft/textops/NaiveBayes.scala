package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier, trained and applied
  * in-engine — the corpus-self-trained stand-in for the linear
  * fastText-style quality/language classifiers production pipelines
  * run as a filter stage (GPT-3's LR quality filter, CCNet's lang
  * gate) where no external model ships with the job.
  *
  * Train: on the deterministic 80% hash split (portable hash of the
  * doc id, salt "nbsplit"), count token occurrences per class and
  * class priors. Score: for each held-out doc and each class,
  *   score = ln(n_class / n_train) + sum_tokens ln((c_tok,class + 1) /
  *           (c_class + V))
  * (add-one smoothing, V = train vocabulary size); predict the argmax
  * class, ties broken by class name ascending.
  *
  * Cross-engine determinism: per-token log-probabilities are
  * discretized to integer micro-nats (floor(lp * 1e6) as BIGINT)
  * BEFORE the per-document sum — the same recipe as
  * [[LangModel.scoreDocs]] — so aggregation order cannot flip a digit
  * and the DuckDB oracle replays scores and argmax exactly.
  *
  * Scale shape: the model is (classes x vocabulary) rows — bounded by
  * the vocabulary, independent of corpus size — so the scoring joins
  * broadcast it; test documents stream through one explode, one
  * broadcast-joined projection, one (doc, class) partial-agg shuffle
  * and one per-doc argmax window. No driver-side collect anywhere.
  */
object NaiveBayes {

  /** The deterministic train-membership predicate on a doc-id column. */
  def isTrain(df: DataFrame, idCol: String, salt: String = "nbsplit",
      trainPct: Int = 80) =
    graft.PortableHash.salted60(col(idCol), salt) % 100 < trainPct

  /** (doc_id, label, tok) token occurrences. */
  private def occurrences(docs: DataFrame, idCol: String, labelCol: String,
      textCol: String): DataFrame =
    graft.Parallelize.bySplits(
        docs.select(col(idCol).as("doc_id"), col(labelCol).as("label"),
          col(textCol).as("__t")), "doc_id")
      .select(col("doc_id"), col("label"),
        explode(TextOps.tokens(col("__t"))).as("tok"))

  /** Score + predict the held-out split: (doc_id, label, pred_label,
    * score_micro, correct). `score_micro` is the argmax class's
    * integer micro-nat score.
    */
  def classifyHoldout(docs: DataFrame, idCol: String, labelCol: String,
      textCol: String, salt: String = "nbsplit"): DataFrame = {
    val train = docs.filter(isTrain(docs, idCol, salt))
    val test = docs.filter(!isTrain(docs, idCol, salt))

    val trainOcc = occurrences(train, idCol, labelCol, textCol)
    // the (cls, tok) model is consumed by three readers (class totals,
    // vocabulary, the broadcast scoring join); materialize it once so
    // the train-corpus tokenize+explode+count pipeline underneath runs
    // once per action, not once per reader. Model size is bounded by
    // |classes| x |vocabulary| — independent of corpus size.
    val classTok = graft.Rounds.checkpoint(
      trainOcc.groupBy(col("label").as("cls"), col("tok"))
        .agg(count(lit(1)).as("c_lt")))
    val classTotal = classTok.groupBy(col("cls")).agg(sum(col("c_lt")).as("c_l"))
    // V = distinct train tokens — derivable from the materialized model
    // (every train token occurs in some class row), saving the second
    // full tokenize pass over the train corpus that aggregating
    // trainOcc directly would cost
    val vocab = classTok.agg(countDistinct(col("tok")).as("v"))
    val priors = train
      .groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("n_l"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("n_train"))))
      .select(col("cls"),
        floor(log(col("n_l").cast("double") / col("n_train")) * 1e6)
          .cast("long").as("prior_micro"))

    // per-(cls, tok) log-probabilities computed once at the TYPE level
    // (model-bounded rows) rather than once per test token occurrence:
    // lp_micro is a pure function of (c_lt, c_l, v), so scoring joins
    // the broadcast lp table and sums k * lp over per-doc token counts
    // — exact integers, identical totals. Unseen (cls, tok) falls to
    // the per-class smoothed floor ln(1 / (c_l + V)).
    val lpTable = classTok
      .join(classTotal, Seq("cls"))
      .crossJoin(broadcast(vocab))
      .select(col("cls"), col("tok"),
        floor(log((col("c_lt") + lit(1L)).cast("double") /
          (col("c_l") + col("v")).cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
    val lpDefault = classTotal
      .crossJoin(broadcast(vocab))
      .select(col("cls"),
        floor(log(lit(1.0) / (col("c_l") + col("v")).cast("double")) * 1e6)
          .cast("long").as("lp0_micro"))
    val testCnt = occurrences(test, idCol, labelCol, textCol)
      .groupBy(col("doc_id"), col("label"), col("tok"))
      .agg(count(lit(1)).as("k"))
    val scored = testCnt
      .crossJoin(broadcast(classTotal.select(col("cls"))))
      .join(broadcast(lpTable), Seq("cls", "tok"), "left")
      .join(broadcast(lpDefault), Seq("cls"))
      .select(col("doc_id"), col("label"), col("cls"),
        (col("k") * coalesce(col("lp_micro"), col("lp0_micro"))).as("contrib"))
      .groupBy(col("doc_id"), col("label"), col("cls"))
      .agg(sum(col("contrib")).as("tok_micro"))
      .join(broadcast(priors), Seq("cls"))
      .select(col("doc_id"), col("label"), col("cls"),
        (col("tok_micro") + col("prior_micro")).as("score_micro"))

    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("cls").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("label"), col("cls").as("pred_label"),
        col("score_micro"),
        (col("cls") === col("label")).as("correct"))
  }
}
