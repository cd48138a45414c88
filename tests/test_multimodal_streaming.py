"""Multimodal decode (real stdlib image codecs) + streaming tests."""

from pyspark.sql import functions as F

from ocrodjvu_spark import pipeline
from ocrodjvu_spark.functions import multimodal
from ocrodjvu_spark.kernel import image_codecs as IC
from ocrodjvu_spark.sources import transcripts as T
from ocrodjvu_spark.streaming import extract_stream as ES

SF_DIR = '/root/testdata/sf0.001'


class TestMultimodal:
    def test_image_features_are_real_decodes(self, spark):
        media = multimodal.synthesize_media(spark, SF_DIR)
        rows = {r.media_id: r for r in
                multimodal.extract_features(media).collect()}
        imgs = [r for r in rows.values() if r.kind == 'image']
        others = [r for r in rows.values() if r.kind != 'image']
        assert imgs and others
        for r in imgs:
            # decoded geometry matches the generator and an independent
            # local decode of the same deterministic payload
            want = IC.decode_image(multimodal._make_image(r.media_id))
            assert r.decoder in ('pnm', 'bmp', 'tiff')
            assert (r.width, r.height) == multimodal._image_dims(r.media_id)
            assert (r.channels, r.n_samples, r.pixel_sum) == \
                (want['channels'], want['n_samples'], want['pixel_sum'])
        # every synthesized format appears (ppm/pgm/bmp/pbm/tiff rotation)
        assert {r.decoder for r in imgs} == {'pnm', 'bmp', 'tiff'}
        # audio rows are REAL WAV decodes: rate/channels/counts/sums
        # match the generator's closed forms
        audios = [r for r in others if r.kind == 'audio']
        assert audios
        for r in audios:
            rate, ch, frames = multimodal._audio_params(r.media_id)
            n = frames * ch
            assert r.decoder == 'wav'
            assert (r.sample_rate, r.channels, r.n_samples) == \
                (rate, ch, n)
            assert r.pixel_sum == sum((i + r.media_id) % 256
                                      for i in range(n))
            assert r.duration_ms == frames * 1000 // rate
            assert r.n_bytes == 44 + n + (n % 2)
        # video rows are REAL AVI decodes matching the generator
        videos = [r for r in others if r.kind == 'video']
        assert videos
        for r in videos:
            w, h, nf, micro = multimodal._video_params(r.media_id)
            assert r.decoder == 'avi'
            assert (r.width, r.height, r.channels) == (w, h, 1)
            assert r.n_samples == nf * w * h
            assert r.pixel_sum == sum(
                (i + f + r.media_id) % 256
                for f in range(nf) for i in range(w * h))
            assert r.duration_ms == nf * micro // 1000
            assert r.sample_rate is None
        for r in others:
            assert r.n_bytes > 0 and r.checksum

    def test_resize_downscales_pnm_images(self, spark):
        media = multimodal.synthesize_media(spark, SF_DIR)
        resized = multimodal.resize_images(media)
        out = resized.where(F.col('kind') == 'image').collect()
        assert out
        for r in out:
            if bytes(r.payload)[:2] in (b'P5', b'P6'):
                info = IC.decode_pnm(bytes(r.payload))
                assert max(info['width'], info['height']) <= 4
                assert (info['width'], info['height']) == (r.width, r.height)
            else:  # bmp/pbm pass through untouched
                assert (r.width, r.height) == \
                    multimodal._image_dims(r.media_id)

    def test_frame_sampling_real_avi_frames(self, spark):
        media = multimodal.synthesize_media(spark, SF_DIR)
        frames = multimodal.sample_frames(media)
        out = frames.collect()
        assert out
        assert all(r.frame_idx % 2 == 0 for r in out)
        by_media = {}
        for r in out:
            by_media.setdefault(r.media_id, []).append(r)
        for media_id, rows in list(by_media.items())[:10]:
            w, h, nf, _ = multimodal._video_params(media_id)
            # every 2nd frame, real decoded bytes in stream order
            assert sorted(r.frame_idx for r in rows) == \
                list(range(0, nf, 2))
            for r in rows:
                assert bytes(r.frame) == bytes(
                    (i + r.frame_idx + media_id) % 256
                    for i in range(w * h))

    def test_frame_sampling_non_avi_fallback(self, spark):
        # undecodable payloads keep the byte-window fallback shape
        rows = [(1, 'video', b'not an avi at all' * 80, None, None, 'raw')]
        media = spark.createDataFrame(
            rows, schema=multimodal.MEDIA_SCHEMA)
        out = multimodal.sample_frames(media).collect()
        assert len(out) == 3 and all(
            len(r.frame) == multimodal.FALLBACK_FRAME_BYTES for r in out)
        assert all(r.frame_idx % 2 == 0 for r in out)


class TestStreaming:
    def test_stream_extracts_all_turns(self, spark, tmp_path):
        inp = str(tmp_path / 'in')
        out = str(tmp_path / 'out')
        chk = str(tmp_path / 'chk')
        # stage the input in two file batches (simulates arrival)
        df = T.synthesize_transcripts(spark, SF_DIR)
        total = df.count()
        df.where(F.col('turn_idx') % 2 == 0).write.parquet(
            inp, mode='overwrite')
        df.where(F.col('turn_idx') % 2 == 1).write.parquet(
            inp, mode='append')

        stream = ES.read_transcripts_stream(spark, inp,
                                            max_files_per_trigger=2)
        extracted = pipeline.extract_turns(stream)
        q = ES.run_to_parquet(extracted, out, chk)
        q.awaitTermination(300)

        result = spark.read.parquet(out)
        assert result.count() == total
        assert result.where(F.col('error').isNotNull()).count() == 0
        # per-turn parity with the batch path on a sample
        batch = {(r.conv_id, r.turn_idx): r.extracted_text
                 for r in pipeline.extract_turns(df).collect()}
        stream_rows = {(r.conv_id, r.turn_idx): r.extracted_text
                       for r in result.collect()}
        assert stream_rows == batch


class TestStatefulStreaming:
    def test_running_conversation_state(self, spark, tmp_path):
        from ocrodjvu_spark.streaming.stateful import (
            running_conversation_state)
        inp = str(tmp_path / 'sin')
        chk = str(tmp_path / 'chk')
        df = T.synthesize_transcripts(spark, SF_DIR)
        # two file batches -> at least two micro-batches with
        # maxFilesPerTrigger=1, so state must carry across batches
        df.where(F.col('turn_idx') % 2 == 0).write.parquet(
            inp, mode='overwrite')
        df.where(F.col('turn_idx') % 2 == 1).write.parquet(
            inp, mode='append')

        stream = ES.read_transcripts_stream(spark, inp,
                                            max_files_per_trigger=1)
        extracted = pipeline.extract_turns(stream, emit_spans=False,
                                           emit_sexpr=False)
        stateful = running_conversation_state(extracted)
        q = (stateful.writeStream.format('memory')
             .queryName('conv_state').outputMode('update')
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        assert q.lastProgress['batchId'] >= 1  # multiple micro-batches

        # last update per conv must equal the batch ground truth
        updates = spark.sql(
            'SELECT * FROM conv_state').toPandas()
        final = (updates.groupby('conv_id')
                 .agg({'n_pages': 'max', 'n_chars': 'max',
                       'max_turn_idx': 'max'}))
        truth = (pipeline.extract_turns(df, emit_spans=False,
                                        emit_sexpr=False)
                 .groupBy('conv_id')
                 .agg(F.count('*').alias('n_pages'),
                      F.sum(F.length('extracted_text')).alias('n_chars'),
                      F.max('turn_idx').alias('max_turn_idx'))
                 .toPandas().set_index('conv_id'))
        assert len(final) == len(truth)
        for conv_id, row in truth.iterrows():
            got = final.loc[conv_id]
            assert got['n_pages'] == row['n_pages'], conv_id
            assert got['n_chars'] == row['n_chars'], conv_id
            assert got['max_turn_idx'] == row['max_turn_idx'], conv_id


class TestStreamingDedup:

    def test_dedup_suppresses_across_micro_batches(self, spark, tmp_path):
        # the duplicate arrives in a LATER micro-batch than the
        # original: suppression must come from streaming state, not
        # from within-batch dedup
        import os
        import time

        inp = str(tmp_path / 'dd_in')
        out = str(tmp_path / 'dd_out')
        chk = str(tmp_path / 'dd_chk')
        os.makedirs(inp)
        schema = ('conv_id string, turn_idx int, role string, '
                  'text string, tool string, ts timestamp')
        import datetime
        ts = datetime.datetime(2025, 1, 1)
        first = spark.createDataFrame(
            [('c1', 1, 'user', 'hello world', None, ts),
             ('c1', 2, 'assistant', 'unique reply', None, ts)], schema)
        second = spark.createDataFrame(
            [('c9', 9, 'dup-copy', 'hello  world ', None, ts),  # dup
             ('c2', 1, 'user', 'fresh text', None, ts)], schema)
        # one parquet file per batch; file-source ordering is by
        # modification time, pinned explicitly
        first.coalesce(1).write.parquet(inp + '/b0')
        second.coalesce(1).write.parquet(inp + '/b1')
        now = time.time()
        for i, sub in enumerate(('b0', 'b1')):
            for f in os.listdir(inp + '/' + sub):
                os.utime(os.path.join(inp, sub, f), (now + i, now + i))
        stream = (spark.readStream.schema(schema)
                  .option('maxFilesPerTrigger', 1)
                  .parquet(inp + '/*'))
        deduped = ES.dedup_stream(stream).select(
            'text_hash', 'conv_id', 'turn_idx', 'role')
        ES.run_to_parquet(deduped, out, chk).awaitTermination()
        rows = {(r.conv_id, r.turn_idx): r.role
                for r in spark.read.parquet(out).collect()}
        # 3 distinct normalized texts survive; the dup-copy (same text
        # as c1/1 after whitespace normalization) is suppressed
        assert rows == {('c1', 1): 'user', ('c1', 2): 'assistant',
                        ('c2', 1): 'user'}

    def test_interval_join_across_micro_batches(self, spark, tmp_path):
        # a matching right row arrives in a LATER micro-batch than its
        # left partner: the pair must still be emitted (join state holds
        # the left row until the watermark passes), and a right row
        # outside the interval must not pair
        import datetime
        import os
        import time

        from ocrodjvu_spark.streaming import joins as SJ

        t0 = datetime.datetime(2025, 1, 1, 12, 0, 0)
        mins = lambda m: t0 + datetime.timedelta(minutes=m)
        schema = ('event_id long, ts timestamp, user_id long, '
                  'event_type string, value double, props string')
        lrows = [(1, mins(0), 7, 'click', 0.0, None),
                 (2, mins(0), 8, 'click', 0.0, None)]
        r_first = [(10, mins(5), 7, 'error', 0.0, None)]
        r_second = [(11, mins(30), 7, 'error', 0.0, None),
                    (12, mins(90), 8, 'error', 0.0, None)]  # outside 60m
        base = str(tmp_path)
        spark.createDataFrame(lrows, schema).coalesce(1).write.parquet(
            base + '/left/b0')
        spark.createDataFrame(r_first, schema).coalesce(1).write.parquet(
            base + '/right/b0')
        spark.createDataFrame(r_second, schema).coalesce(1).write.parquet(
            base + '/right/b1')
        now = time.time()
        for i, sub in enumerate(('right/b0', 'right/b1')):
            for f in os.listdir(os.path.join(base, sub)):
                os.utime(os.path.join(base, sub, f), (now + i, now + i))
        read = lambda sub: (spark.readStream.schema(schema)
                            .option('maxFilesPerTrigger', 1)
                            .parquet(base + '/' + sub + '/*'))
        joined = SJ.interval_join_stream(read('left'), read('right'))
        ES.run_to_parquet(joined, base + '/out',
                          base + '/chk').awaitTermination()
        got = {(r.left_id, r.right_id)
               for r in spark.read.parquet(base + '/out').collect()}
        assert got == {(1, 10), (1, 11)}
