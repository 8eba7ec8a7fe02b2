package graft.streaming

import java.util.Properties

/** Runtime binding of [[KafkaEos.TxProducerFactory]] to a REAL
  * `org.apache.kafka.clients` producer/consumer — via reflection, so
  * this repo compiles with ZERO Kafka dependency (this sandbox ships
  * no kafka jars and resolves nothing new) yet lights up unchanged
  * the moment the two standard jars are on the classpath:
  *
  *  - `spark-sql-kafka-0-10_2.13` (+ its `spark-token-provider-...`)
  *    — gives Spark the `format("kafka")` source that
  *    [[ModerationStream.fromKafka]] names by string;
  *  - `kafka-clients` — gives this file `KafkaProducer` /
  *    `KafkaConsumer` / `AdminClient` to bind against.
  *
  * With those present and a broker reachable (the reference runs one
  * via docker-compose — reference docker/docker-compose.yml:13-33),
  * `KafkaWireSpec` drives [[ModerationStream.transactionalQuery]]
  * end-to-end over real topics: fixture messages in, EOS-v2
  * transactional moderation out, read back with
  * `isolation.level=read_committed`. Here the spec cancels cleanly
  * (assume()) because the jars are absent — the semantics themselves
  * are pinned broker-free by KafkaEosSpec's in-memory implementation
  * of the same traits.
  *
  * Everything in this object is driver/executor-safe: the factory
  * carries only the bootstrap string; every live client is created,
  * used, and closed inside one call.
  */
object KafkaWire {

  def classPresent(name: String): Boolean =
    try { Class.forName(name); true }
    catch { case _: ClassNotFoundException => false }

  /** Both halves of the wire: Spark's kafka source/sink + the client
    * library this file binds to reflectively.
    */
  def wireAvailable: Boolean =
    classPresent("org.apache.spark.sql.kafka010.KafkaSourceProvider") &&
      classPresent("org.apache.kafka.clients.producer.KafkaProducer")

  /** Reflection's invoke() auto-unboxes, so a primitive parameter is
    * satisfied exactly by its box — NOT by any argument. The old
    * `t.isPrimitive → accept anything` shortcut made `poll` ambiguous
    * between `poll(Duration)` and kafka-clients 3.x's deprecated
    * `poll(long)`, with getMethods order deciding which ran.
    */
  private val boxOf: Map[Class[_], Class[_]] = Map(
    java.lang.Boolean.TYPE -> classOf[java.lang.Boolean],
    java.lang.Byte.TYPE -> classOf[java.lang.Byte],
    java.lang.Character.TYPE -> classOf[java.lang.Character],
    java.lang.Short.TYPE -> classOf[java.lang.Short],
    java.lang.Integer.TYPE -> classOf[java.lang.Integer],
    java.lang.Long.TYPE -> classOf[java.lang.Long],
    java.lang.Float.TYPE -> classOf[java.lang.Float],
    java.lang.Double.TYPE -> classOf[java.lang.Double])

  private def accepts(t: Class[_], a: AnyRef): Boolean =
    if (a == null) !t.isPrimitive
    else if (t.isPrimitive) boxOf(t).isInstance(a)
    else t.isInstance(a)

  /** Invoke `name` on `obj` picking the UNIQUE method with matching
    * arity whose every parameter accepts its argument (boxed-primitive
    * aware). getMethods may list one signature several times (interface
    * + bridge copies), so uniqueness is judged on parameter-type lists;
    * a genuinely ambiguous overload set fails loudly instead of letting
    * unspecified getMethods order pick (reflection keeps this file
    * compilable without the kafka classes).
    */
  private[graft] def call(obj: AnyRef, name: String, args: AnyRef*): AnyRef = {
    val sigs = obj.getClass.getMethods.filter(m =>
      m.getName == name && m.getParameterCount == args.length &&
        m.getParameterTypes.zip(args).forall { case (t, a) => accepts(t, a) })
      .groupBy(_.getParameterTypes.toSeq)
    require(sigs.size == 1,
      s"${obj.getClass.getName}.$name/${args.length}: " + (
        if (sigs.isEmpty) "no matching overload"
        else "ambiguous overloads " + sigs.keys.map(
          _.map(_.getSimpleName).mkString("(", ",", ")")).mkString(" vs ")))
    val m = sigs.head._2.head
    m.setAccessible(true)
    m.invoke(obj, args: _*)
  }

  /** Constructor lookup with the same boxed-primitive matcher; when
    * several ctors accept (e.g. KafkaConsumer(Properties) vs
    * KafkaConsumer(Map) — Properties IS a Map), the exact-class match
    * wins deterministically.
    */
  private def newInstance(cls: String, args: AnyRef*): AnyRef = {
    val cands = Class.forName(cls).getConstructors.filter(k =>
      k.getParameterCount == args.length &&
        k.getParameterTypes.zip(args).forall { case (t, a) => accepts(t, a) })
    val exact = cands.filter(_.getParameterTypes.zip(args).forall {
      case (t, a) => a != null && t == a.getClass })
    val c = (if (exact.nonEmpty) exact else cands).headOption
      .getOrElse(throw new IllegalStateException(s"no ctor $cls/${args.length}"))
    c.newInstance(args: _*).asInstanceOf[AnyRef]
  }

  private def baseProps(bootstrap: String): Properties = {
    val p = new Properties()
    p.put("bootstrap.servers", bootstrap)
    p
  }

  /** A real transactional producer behind the [[KafkaEos.TxProducer]]
    * seam: enable.idempotence + the caller's transactional.id — the
    * EXACTLY_ONCE_V2 configuration (one producer per transactional id,
    * epoch-fenced by initTransactions).
    */
  final class ReflectiveTxProducer(bootstrap: String, transactionalId: String)
      extends KafkaEos.TxProducer {
    private val recordCls =
      Class.forName("org.apache.kafka.clients.producer.ProducerRecord")
    private val producer: AnyRef = {
      val p = baseProps(bootstrap)
      val ser = "org.apache.kafka.common.serialization.ByteArraySerializer"
      p.put("key.serializer", ser)
      p.put("value.serializer", ser)
      p.put("enable.idempotence", "true")
      p.put("acks", "all")
      p.put("transactional.id", transactionalId)
      newInstance("org.apache.kafka.clients.producer.KafkaProducer", p)
    }
    def initTransactions(): Unit = call(producer, "initTransactions")
    def beginTransaction(): Unit = call(producer, "beginTransaction")
    def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit = {
      val rec = recordCls
        .getConstructor(classOf[String], classOf[Object], classOf[Object])
        .newInstance(topic, key, value).asInstanceOf[AnyRef]
      call(producer, "send", rec)
    }
    def commitTransaction(): Unit = call(producer, "commitTransaction")
    def abortTransaction(): Unit = call(producer, "abortTransaction")
    def close(): Unit = call(producer, "close")
  }

  /** The factory [[ModerationStream.transactionalQuery]] takes. Carries
    * only the bootstrap string (Serializable — it ships into the
    * foreachPartition closure); the ledger read opens a short-lived
    * read_committed consumer, drains the control topic, and returns
    * the highest batchId committed under `transactionalId` — aborted
    * markers are invisible at that isolation level by definition.
    */
  final class ReflectiveKafkaFactory(bootstrap: String)
      extends KafkaEos.TxProducerFactory {

    def create(transactionalId: String): KafkaEos.TxProducer =
      new ReflectiveTxProducer(bootstrap, transactionalId)

    def lastCommittedBatch(transactionalId: String, controlTopic: String): Long = {
      val p = baseProps(bootstrap)
      val de = "org.apache.kafka.common.serialization.ByteArrayDeserializer"
      p.put("key.deserializer", de)
      p.put("value.deserializer", de)
      p.put("isolation.level", "read_committed")
      p.put("enable.auto.commit", "false")
      p.put("group.id", s"graft-ledger-${java.util.UUID.randomUUID()}")
      val consumer =
        newInstance("org.apache.kafka.clients.consumer.KafkaConsumer", p)
      try {
        val infos = call(consumer, "partitionsFor", controlTopic)
          .asInstanceOf[java.util.List[AnyRef]]
        if (infos == null || infos.isEmpty) return -1L
        val tps = new java.util.ArrayList[AnyRef]()
        infos.forEach { pi =>
          tps.add(newInstance("org.apache.kafka.common.TopicPartition",
            controlTopic, call(pi, "partition")))
        }
        call(consumer, "assign", tps)
        call(consumer, "seekToBeginning", tps)
        val ends = call(consumer, "endOffsets", tps)
          .asInstanceOf[java.util.Map[AnyRef, java.lang.Long]]
        val keyBytes = transactionalId.getBytes("UTF-8")
        var best = -1L
        def drained: Boolean = {
          var done = true
          ends.forEach { (tp, end) =>
            if (call(consumer, "position", tp)
                .asInstanceOf[java.lang.Long] < end) done = false
          }
          done
        }
        while (!drained) {
          val recs = call(consumer, "poll", java.time.Duration.ofMillis(250))
            .asInstanceOf[java.lang.Iterable[AnyRef]]
          recs.forEach { r =>
            val k = call(r, "key").asInstanceOf[Array[Byte]]
            if (k != null && java.util.Arrays.equals(k, keyBytes)) {
              val v = KafkaEos.bytesLong(
                call(r, "value").asInstanceOf[Array[Byte]])
              if (v > best) best = v
            }
          }
        }
        best
      } finally call(consumer, "close")
    }
  }

  /** Best-effort topic creation via a reflective AdminClient —
    * already-exists errors are swallowed (brokers with
    * auto.create.topics.enable need no admin step at all).
    */
  def createTopics(bootstrap: String, topics: Seq[String],
                   partitions: Int = 1): Unit = {
    val admin = Class.forName("org.apache.kafka.clients.admin.AdminClient")
      .getMethod("create", classOf[Properties])
      .invoke(null, baseProps(bootstrap))
    try {
      val newTopics = new java.util.ArrayList[AnyRef]()
      topics.foreach { t =>
        newTopics.add(Class
          .forName("org.apache.kafka.clients.admin.NewTopic")
          .getConstructor(classOf[String], classOf[Int], classOf[Short])
          .newInstance(t, Int.box(partitions), Short.box(1.toShort))
          .asInstanceOf[AnyRef])
      }
      val result = call(admin, "createTopics", newTopics)
      try call(call(result, "all"), "get")
      catch { case e: java.lang.reflect.InvocationTargetException
        if e.getCause != null &&
          e.getCause.getCause != null &&
          e.getCause.getCause.getClass.getSimpleName == "TopicExistsException" => ()
      }
    } finally call(admin, "close")
  }
}
